"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG-extraction query on sf0.001.
``queries()`` — one entry per implemented operator family from SURVEY.md §2
(and the training-data ops), each (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (omitted only for
genuinely non-SQL ops: LSH banding, SimHash, multimodal decode — those get
the driver's rows-only check).

Column names and numeric types are aligned on both sides (see repo README);
float outputs are rounded to 6 decimals in both engines.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from softcite_kb_spark.functions.text import block_key, norm_name  # noqa: E402
from softcite_kb_spark.operators import dedup as dd  # noqa: E402
from softcite_kb_spark.operators import extraction as ex  # noqa: E402
from softcite_kb_spark.operators import linking as lk  # noqa: E402
from softcite_kb_spark.operators import multimodal as mm  # noqa: E402
from softcite_kb_spark.operators import similarity as sim  # noqa: E402
from softcite_kb_spark.operators import textops as tx  # noqa: E402
from softcite_kb_spark.queries import api_queries as aq  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _spread(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Spread a low-split scan across all cores before per-row-heavy
    compute (hashing/minhash/cosine kernels).

    The testdata parquet files are written as a SINGLE row group even at
    the larger scale factors, so Spark cannot split the scan: without an
    exchange the whole downstream expression pipeline runs in one task
    (measured: q25's minhash stage ran 1-core at sf1.0). Same rationale
    and shape as the repartition in ``_synthetic_transcripts``; the
    shuffled bytes are the few MB of input text/vectors, repaid ~32x by
    the parallel compute stage."""
    return df.repartition(spark.sparkContext.defaultParallelism)


def _synthetic_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcript table derived from lineitem: one turn per
    line, 'PartX depends on PartY.' — the extraction surface with an exact
    SQL-reconstructible ground truth."""
    li = _t(spark, sf_dir, "lineitem")
    # the testdata file has ~6 row groups -> at most 6 scan splits; spread
    # the regex-heavy extraction across all cores (the real pipeline gets
    # this from its conv_id repartition, plans/pipeline.py). HASH on
    # conv_id, not round-robin: round-robin pays a local sort of the
    # input first (spark.sql.execution.sortBeforeRepartition, needed for
    # retry determinism) while a hash exchange is deterministic for free
    # — and downstream per-conversation groupBys (q24's fold) reuse the
    # clustering, skipping their own exchange.
    par = spark.sparkContext.defaultParallelism
    return li.select(
        F.col("l_orderkey").cast("string").alias("conv_id"),
        F.col("l_linenumber").alias("turn_idx"),
        F.concat(F.lit("Part"), F.col("l_partkey"), F.lit(" depends on Part"),
                 F.col("l_suppkey"), F.lit(".")).alias("text"),
    ).repartition(par, F.col("conv_id"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q01_pricing_summary(spark, sf_dir):
    """A1-family aggregation (TPC-H Q1 shape): partial+final hash agg."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").cast("long").alias("count_order"),
        )
    )


def q02_top_parts_by_citations(spark, sf_dir):
    """A1 top-k ranking (api/router.py:151-169) — lineitem as citation edges."""
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("dst_id"))
    return aq.top_entities_by_count(li, key="dst_id", n=25)


def q03_segment_revenue_join(spark, sf_dir):
    """Join chain with broadcast dims (J-family): customer ⋈ orders ⋈ lineitem."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    # project lineitem to the three used columns and hash-partition on the
    # join key BEFORE the broadcast joins: the single-file scan yields ~6
    # row-group splits, so the join probe + the countDistinct's first-phase
    # aggregation otherwise run 6-wide; partitioning by l_orderkey also
    # satisfies the (segment, orderkey) clustering the distinct aggregate
    # needs, removing that exchange (2 Exchange -> 1 on the heavy side).
    li = _t(spark, sf_dir, "lineitem") \
        .select("l_orderkey", "l_extendedprice", "l_discount") \
        .repartition(spark.sparkContext.defaultParallelism,
                     F.col("l_orderkey"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                    2).alias("revenue"),
            F.countDistinct("o_orderkey").cast("long").alias("n_orders"),
        )
    )


def q04_orders_per_customer_lists(spark, sf_dir):
    """A2 group-into-lists (api/router.py:227-252), list rendered as a
    deterministic sorted string for cross-engine comparison."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_custkey").alias("grp"))
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list(
                F.col("o_orderkey")))).alias("items_str"),
            F.count("*").cast("long").alias("n_items"),
        )
        .orderBy(F.desc("n_items"), F.asc("grp"))
        .limit(20)
    )


def q05_event_type_distinct_users(spark, sf_dir):
    """A3 multi-key + DISTINCT counting (api/router.py:750-769)."""
    e = _t(spark, sf_dir, "events")
    return aq.group_count_distinct(e, ["event_type"], "user_id")


def q06_supplier_majority_vote(spark, sf_dir):
    """A8 disambiguation voting (knowledge_base.py:404-494): per part, accept
    the winning supplier iff votes > total/2 and total >= 10.

    Planted fixture: parts < 40 get 2 extra supplier-9999 votes per existing
    row (majority by construction) so the oracle verifies a non-empty value
    set — the raw distribution never produces a >50% winner at test SFs.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    planted = (
        li.filter(F.col("l_partkey") < 40)
        .select("l_partkey", F.lit(9999).cast("long").alias("l_suppkey"))
        .withColumn("__r", F.explode(F.array(F.lit(1), F.lit(2))))
        .drop("__r")
    )
    # hash-partition the vote rows by l_partkey before aggregating: the
    # ~6-split scan otherwise runs the first-phase aggregation 6-wide, and
    # partitioning by the partkey prefix satisfies BOTH groupBys' clustering
    # (the (partkey, suppkey) count AND the per-part winner fold), so one
    # exchange serves the whole query.
    votes = (
        li.unionByName(planted)
        .repartition(spark.sparkContext.defaultParallelism,
                     F.col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.count("*").cast("long").alias("votes"))
    )
    # winner-per-part as a hash aggregation, not a window: the original
    # sum-over-partition + row_number formulation cost two sorts and a
    # corpus-wide window pass; max(struct(votes, -suppkey)) picks the
    # identical winner (max votes, ties -> min suppkey = the row_number
    # order desc(votes), asc(suppkey) selects) with map-side partial
    # aggregation and no sort. Equivalence is oracle-checked (q06 hash).
    return (
        votes.groupBy("l_partkey")
        .agg(F.max(F.struct(F.col("votes"),
                            (-F.col("l_suppkey")).alias("neg_supp"))).alias("w"),
             F.sum("votes").alias("total"))
        .filter((F.col("total") >= 10)
                & (F.col("w.votes") * 2 > F.col("total")))
        .select("l_partkey",
                (-F.col("w.neg_supp")).alias("l_suppkey"),
                F.col("w.votes").alias("votes"), "total")
    )


def q07_best_value_priority(spark, sf_dir):
    """A10 best-value selection (converter.py:325-390): fixed source-priority
    then max count; lineitem as statements with returnflag as source."""
    li = _t(spark, sf_dir, "lineitem")
    stmts = li.select(
        F.col("l_partkey").alias("canonical_id"),
        F.lit("supplier").alias("prop"),
        F.col("l_suppkey").cast("string").alias("value"),
        F.col("l_returnflag").alias("source"),
        F.col("l_quantity").cast("long").alias("count"),
    )
    best = aq.best_value_per_property(stmts, ["R", "A", "N"])
    return best.select("canonical_id", "prop", "value", "source", "count")


def q08_yearly_order_histogram(spark, sf_dir):
    """A9 timeline histogram (kb_es_indexing.py:170-225)."""
    o = _t(spark, sf_dir, "orders")
    return (
        aq.timeline_histogram(o, "o_orderpriority", "o_orderdate", "o_custkey")
        .withColumnRenamed("n_distinct", "n_customers")
    )


def q09_latest_event_per_user(spark, sf_dir):
    """W3 pick-latest (rOpenSci_import.py:84-113): row_number over desc order."""
    e = _t(spark, sf_dir, "events")
    # argmax as a hash aggregation: max(struct(ts, event_id, ...)) picks
    # the same row the original row_number-over-desc window did (event_id
    # is unique, so (ts, event_id) totally orders a user's events) —
    # partial aggregation replaces the per-partition sort + window pass.
    return (
        e.groupBy("user_id")
        .agg(F.max(F.struct("ts", "event_id", "event_type", "value"))
             .alias("m"))
        .select("user_id", F.col("m.event_id").alias("event_id"),
                F.col("m.event_type").alias("event_type"),
                F.round(F.col("m.value"), 6).alias("value"))
    )


def q10_top_events_informativeness(spark, sf_dir):
    """W1 informativeness rank (api/utils.py:63-168): per user top-2 by value
    desc, then payload length desc."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.desc(F.length("props")), F.asc("event_id"))
    return (
        e.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 2)
        .select("user_id", "event_id", "rank")
    )


def q11_union_entity_sources(spark, sf_dir):
    """U1 multi-source union (merging/populate.py:9-23) with per-source stats."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("source"))
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("source"))
    return (
        c.unionByName(s)
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n"),
             F.countDistinct("name").cast("long").alias("n_names"))
    )


def q12_part_blacklist_filter(spark, sf_dir):
    """P1 blacklist + numeric filter (software_mention_import.py:110-124):
    anti-join against a term table, numeric names dropped."""
    p = _t(spark, sf_dir, "part")
    bl = spark.createDataFrame(
        [("red",), ("blue",), ("42",)], ["term"])
    toks = p.withColumn("first_tok", F.split("p_name", " ")[0])
    kept = (
        toks.join(F.broadcast(bl),
                  toks.first_tok == F.col("term"), "left_anti")
        .filter(F.col("first_tok").try_cast("double").isNull())
    )
    return kept.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n_parts"))


def q13_name_normalization(spark, sf_dir):
    """F-family string normalization (norm key + blocking key, F4-F8).

    The raw p_name fixture is already lowercase/hyphen-free/clean, which
    would leave case-folding, hyphen translation and whitespace collapse
    untested — planted variants (UPPER, hyphenated, triple-spaced+padded)
    exercise every rule; all four forms must produce the identical norm.
    """
    p = _t(spark, sf_dir, "part")
    names = p.select((F.col("p_partkey") * 4).alias("name_id"),
                     F.col("p_name").alias("name"))
    for off, expr in (
        (1, F.upper("p_name")),
        (2, F.replace(F.col("p_name"), F.lit(" "), F.lit("-"))),
        (3, F.concat(F.lit("  "),
                     F.regexp_replace("p_name", " ", "   "), F.lit(" "))),
    ):
        names = names.unionByName(p.select(
            (F.col("p_partkey") * 4 + off).alias("name_id"),
            expr.alias("name")))
    return names.select(
        "name_id",
        norm_name(F.col("name")).alias("norm"),
        block_key(F.col("name")).alias("bkey"),
        F.upper("name").alias("upper_name"),
    )


def q14_doc_token_stats(spark, sf_dir):
    """Token counting + punctuation/digit ratios (text-analysis op)."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    return tx.text_stats(d).select(
        "doc_id", "n_tokens", "punct_ratio", "digit_ratio", "sw_en")


def q15_doc_quality(spark, sf_dir):
    """Quality scoring (length/punct/stopword heuristic)."""
    d = _t(spark, sf_dir, "documents")
    return tx.quality_score(d).select("doc_id", "quality")


def q16_doc_langid(spark, sf_dir):
    """Language-ID via stopword-ratio argmax."""
    d = _t(spark, sf_dir, "documents")
    return tx.lang_id(d).select("doc_id", "lang_pred")


def q17_doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: md5 over normalized content."""
    d = _spread(spark, _t(spark, sf_dir, "documents"))
    return tx.add_fingerprint(d).select("doc_id", "fingerprint")


def q18_doc_exact_dup_groups(spark, sf_dir):
    """Exact dedup via hash-groupBy; duplicates planted deterministically
    (corpus has none) by re-adding doc_id<25 with shifted ids."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    allx = d.unionByName(planted)
    g = dd.exact_duplicate_groups(allx)
    return g.select(
        "fingerprint", "group_size", "keep_id",
        F.concat_ws(",", F.transform(
            "doc_ids", lambda x: x.cast("string"))).alias("ids_str"))


def q19_doc_minhash(spark, sf_dir):
    """MinHash signatures (4 of 16 slots as columns) over word 3-shingles."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    s = dd.add_minhash(d, num_perm=4, shingle_n=3)
    return s.select(
        "doc_id",
        F.col("minhash")[0].alias("mh0"), F.col("minhash")[1].alias("mh1"),
        F.col("minhash")[2].alias("mh2"), F.col("minhash")[3].alias("mh3"))


def q20_doc_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard on all pairs of a bounded slice (the verify
    kernel behind LSH candidates).

    Planted fixture: truncated copies (first 200 chars) of docs < 25 under
    shifted ids — high-but-not-1.0 overlap with their originals, so the
    oracle value-checks a non-empty set (random docs never reach 0.05).
    """
    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = base.filter(F.col("doc_id") < 60)
    planted = base.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"))
    allx = d.unionByName(planted)
    ids = allx.select(F.col("doc_id").alias("id"))
    pairs = (ids.alias("a").join(ids.alias("b"),
                                 F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")))
    j = dd.jaccard_pairs(allx, pairs, shingle_n=3)
    return j.filter(F.col("jaccard") >= 0.05)


def q21_emb_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search (exact ANN baseline)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return sim.brute_force_topk(_spread(spark, e), q, k=5)


def q22_event_hourly_rollup(spark, sf_dir):
    """Time-bucketed rollup (streaming-window analog in batch)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.col("event_type"),
                  F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count("*").cast("long").alias("n"),
             F.round(F.sum("value"), 6).alias("sum_value"))
    )


def q23_extract_triples_synthetic(spark, sf_dir):
    """Stage-1 triple extraction end-to-end on a synthetic transcript table
    derived from lineitem; oracle reconstructs ground truth relationally."""
    t = _synthetic_transcripts(spark, sf_dir)
    return ex.extract_triples(t, blacklist=None).filter(
        F.col("pred") == "depends_on")


def q24_fold_mentions_synthetic(spark, sf_dir):
    """A4 same-name folding over extracted mentions (scalar columns only)."""
    t = _synthetic_transcripts(spark, sf_dir)
    # extraction -> mentions -> fold is one single-scan plan: extract_triples
    # concat-explodes all patterns in one pass and mentions_from_triples
    # explodes a per-triple mention array — no barrier needed
    triples = ex.extract_triples(t, blacklist=None)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    return folded.select("conv_id", "norm_surface", "n_mentions",
                         "first_turn_idx")


def q60_link_decisions(spark, sf_dir):
    """Stage-2 disambiguation voting (A8, knowledge_base.py:404-494)
    value-checked END TO END: extraction -> mention folding -> surface
    stats -> blocked candidates -> majority vote, against a synthetic
    authority derived from `part` — one curated entity per part key,
    with part keys divisible by 10 given an AMBIGUOUS label twin so the
    majority rule's refusal path is exercised (|best set| = 2 splits
    the vote exactly in half). min_total=2 also refuses single-mention
    surfaces. The oracle reproduces the factorized voting algebra
    (votes(s,e) = M(s) for the best set) relationally."""
    t = _synthetic_transcripts(spark, sf_dir)
    triples = ex.extract_triples(t, blacklist=None)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    part = _t(spark, sf_dir, "part")
    base = part.select(
        F.concat(F.lit("E"), F.col("p_partkey")).alias("entity_id"),
        F.concat(F.lit("Part"), F.col("p_partkey")).alias("label"),
        F.array().cast("array<string>").alias("aliases"))
    twins = part.filter(F.col("p_partkey") % 10 == 0).select(
        F.concat(F.lit("A"), F.col("p_partkey")).alias("entity_id"),
        F.concat(F.lit("part"), F.col("p_partkey")).alias("label"),
        F.array().cast("array<string>").alias("aliases"))
    auth = base.unionByName(twins)
    accepted = lk.vote_links_surface(
        lk.generate_surface_candidates(lk.surface_stats(folded), auth),
        min_total=2)
    return accepted.select(
        "norm_surface", "entity_id",
        F.col("votes").cast("long").alias("votes"),
        F.col("total_votes").cast("long").alias("total_votes"),
        "score", "method")


def q61_canonical_components(spark, sf_dir):
    """Stage-3 canonicalization (W2 + CC) value-checked END TO END:
    linked mentions (q60's accepted map) -> canonical_map — the
    surface-entity CC, entity-hub preference, deterministic min-node-id
    fallback, and the content-hash node ids all reproduced relationally
    (DuckDB's sha256 == Spark's sha2(...,256), so the oracle computes
    the same m:<hash> ids). In this fixture entities are 1:1 with
    surfaces, so components are closed-form: e:<entity> for accepted
    surfaces, min mention node id for refused/OOV ones — which is
    exactly what makes the iterative CC's fixpoint checkable in SQL."""
    from softcite_kb_spark.operators import canonicalize as cz

    t = _synthetic_transcripts(spark, sf_dir)
    triples = ex.extract_triples(t, blacklist=None)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    part = _t(spark, sf_dir, "part")
    base = part.select(
        F.concat(F.lit("E"), F.col("p_partkey")).alias("entity_id"),
        F.concat(F.lit("Part"), F.col("p_partkey")).alias("label"),
        F.array().cast("array<string>").alias("aliases"))
    twins = part.filter(F.col("p_partkey") % 10 == 0).select(
        F.concat(F.lit("A"), F.col("p_partkey")).alias("entity_id"),
        F.concat(F.lit("part"), F.col("p_partkey")).alias("label"),
        F.array().cast("array<string>").alias("aliases"))
    auth = base.unionByName(twins)
    accepted = lk.vote_links_surface(
        lk.generate_surface_candidates(lk.surface_stats(folded), auth),
        min_total=2)
    linked = folded.join(accepted.select("norm_surface", "entity_id"),
                         "norm_surface", "left")
    canon = cz.canonical_map(linked)
    return canon.select("conv_id", "norm_surface", "entity_id",
                        "node_id", "canonical_id")


def q62_fold_statements(spark, sf_dir):
    """Stage-3 statement folding (A5/A6/A7 + the P2677 positional
    qualifiers) value-checked: triples keyed to canonical subjects,
    identical (prop, normalized value) statements merged with count
    summing, the qualifier list capped at 8 BEFORE the collect and
    emitted in deterministic order. Qualifier content is compared as a
    comma-joined string (same order both sides) so the oracle needs no
    nested-struct serialization."""
    from softcite_kb_spark.operators import canonicalize as cz

    t = _synthetic_transcripts(spark, sf_dir)
    triples = ex.extract_triples(t, blacklist=None)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    part = _t(spark, sf_dir, "part")
    base = part.select(
        F.concat(F.lit("E"), F.col("p_partkey")).alias("entity_id"),
        F.concat(F.lit("Part"), F.col("p_partkey")).alias("label"),
        F.array().cast("array<string>").alias("aliases"))
    twins = part.filter(F.col("p_partkey") % 10 == 0).select(
        F.concat(F.lit("A"), F.col("p_partkey")).alias("entity_id"),
        F.concat(F.lit("part"), F.col("p_partkey")).alias("label"),
        F.array().cast("array<string>").alias("aliases"))
    auth = base.unionByName(twins)
    accepted = lk.vote_links_surface(
        lk.generate_surface_candidates(lk.surface_stats(folded), auth),
        min_total=2)
    linked = folded.join(accepted.select("norm_surface", "entity_id"),
                         "norm_surface", "left")
    canon = cz.canonical_map(linked)
    stmts = cz.fold_statements(triples, canon)
    return stmts.select(
        "canonical_id", "prop", "value", "datatype", "source",
        F.col("count").cast("long").alias("count"),
        F.concat_ws(",", F.transform(
            "qualifiers", lambda q: q["value"])).alias("quals"))


def q63_build_edges(spark, sf_dir):
    """Stage-3 edge materialization (J9 re-pointing) value-checked:
    triples' endpoints map through the canonical map (subject inner,
    object left — every synthetic object is itself a mentioned surface,
    so the canonical path resolves all of them), then dedup to
    (src, dst, rel) with count + deterministic dst_surface. Completes
    the oracle chain: q23 extraction -> q24 folding -> q60 voting ->
    q61 canonicalization -> q62 statements -> q63 edges."""
    from softcite_kb_spark.operators import canonicalize as cz

    t = _synthetic_transcripts(spark, sf_dir)
    triples = ex.extract_triples(t, blacklist=None)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    part = _t(spark, sf_dir, "part")
    base = part.select(
        F.concat(F.lit("E"), F.col("p_partkey")).alias("entity_id"),
        F.concat(F.lit("Part"), F.col("p_partkey")).alias("label"),
        F.array().cast("array<string>").alias("aliases"))
    twins = part.filter(F.col("p_partkey") % 10 == 0).select(
        F.concat(F.lit("A"), F.col("p_partkey")).alias("entity_id"),
        F.concat(F.lit("part"), F.col("p_partkey")).alias("label"),
        F.array().cast("array<string>").alias("aliases"))
    auth = base.unionByName(twins)
    accepted = lk.vote_links_surface(
        lk.generate_surface_candidates(lk.surface_stats(folded), auth),
        min_total=2)
    linked = folded.join(accepted.select("norm_surface", "entity_id"),
                         "norm_surface", "left")
    canon = cz.canonical_map(linked)
    edges = cz.build_edges(triples, canon)
    return edges.select(
        "src_id", "dst_id", "rel",
        F.col("count").cast("long").alias("count"), "dst_surface")


def q64_build_nodes(spark, sf_dir):
    """Stage-3 node materialization (A10 best-value label selection)
    value-checked with a NON-trivial raw-form vote: every third line
    mentions its subject in ALL CAPS ('PART<k>'), so each surface
    carries two raw spellings and the label must be the spelling most
    CONVERSATIONS used (count-desc window, asc tiebreak) — the fix that
    stops a fringe ALL-CAPS mention from stealing the label. Aliases
    (every observed raw form) compare as a sorted comma-joined string."""
    from softcite_kb_spark.operators import canonicalize as cz

    li = _t(spark, sf_dir, "lineitem").repartition(
        spark.sparkContext.defaultParallelism)
    t = li.select(
        F.col("l_orderkey").cast("string").alias("conv_id"),
        F.col("l_linenumber").alias("turn_idx"),
        F.concat(
            F.when(F.col("l_linenumber") % 3 == 0, F.lit("PART"))
            .otherwise(F.lit("Part")),
            F.col("l_partkey"), F.lit(" depends on Part"),
            F.col("l_suppkey"), F.lit(".")).alias("text"))
    triples = ex.extract_triples(t, blacklist=None)
    folded = ex.fold_mentions(ex.mentions_from_triples(triples))
    part = _t(spark, sf_dir, "part")
    base = part.select(
        F.concat(F.lit("E"), F.col("p_partkey")).alias("entity_id"),
        F.concat(F.lit("Part"), F.col("p_partkey")).alias("label"),
        F.array().cast("array<string>").alias("aliases"))
    auth = base
    accepted = lk.vote_links_surface(
        lk.generate_surface_candidates(lk.surface_stats(folded), auth),
        min_total=2)
    linked = folded.join(accepted.select("norm_surface", "entity_id"),
                         "norm_surface", "left")
    canon = cz.canonical_map(linked)
    nodes = cz.build_nodes(canon)
    return nodes.select(
        "canonical_id", "label",
        F.concat_ws(",", "aliases").alias("aliases"),
        F.col("n_mentions").cast("long").alias("n_mentions"),
        "entity_id",
        F.col("n_surfaces").cast("long").alias("n_surfaces"))


def q25_lsh_candidate_pairs(spark, sf_dir):
    """MinHash-LSH banding candidate pairs; the DuckDB oracle reproduces
    the full path (16 affine slots, 4 band hashes, capped bucket self-join)
    generated from the same coefficients."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return dd.lsh_candidate_pairs(_spread(spark, d.unionByName(planted)),
                                  num_perm=16, bands=4)


def q26_simhash_near_pairs(spark, sf_dir):
    """SimHash near-dup pairs via chunk blocking (rows-only: pandas UDF)."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text") \
        .filter(F.col("doc_id") < 200)
    planted = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    # NOT _spread: this slice is ~225 docs — fanning it over 32 partitions
    # costs one Arrow python-worker round-trip per partition and measured
    # 2x slower than letting the 2-split scan carry it
    return dd.simhash_near_pairs(d.unionByName(planted), max_hamming=3)


def q27_multimodal_decode(spark, sf_dir):
    """Multimodal binary decode plumbing: payloads derived from the
    documents table (header = modular functions of doc_id, body = text
    bytes) so the oracle reconstructs kind/width/height/n_bytes/checksum
    relationally and value-checks the whole mapInPandas decode path."""
    d = _t(spark, sf_dir, "documents")
    media = mm.media_from_documents(d)
    return mm.decode_media(media)


def q28_lsh_topk(spark, sf_dir):
    """Hyperplane-LSH approximate top-k (rows-only: bucketed ANN)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return sim.lsh_topk(e, q, dim=64, k=5, n_planes=4)


def q29_facet_cube(spark, sf_dir):
    """Facet aggregation via CUBE — the native rebuild of the reference's
    ES facet aggs (doc/example-api.md:33-60; SURVEY.md 2.4 note)."""
    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("year", F.year("ts"))
        .cube("event_type", "year")
        .agg(F.count("*").cast("long").alias("n"))
        # cube NULLs encode "all" — coalesce to sentinels so the oracle
        # comparison is NULL-semantics-free (and pandas doesn't float-ify
        # the int column)
        .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                F.coalesce("year", F.lit(-1)).alias("year"), "n")
    )


def q30_doc_blocking_selfjoin(spark, sf_dir):
    """J1/J2 blocking-key self-join for dedup candidate pairs
    (merge.py:40-73; key analog of title_author_key,
    populate_staging_area.py:879-897). Duplicates planted as in q18."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    allx = d.unionByName(planted).withColumn(
        "bkey", F.substring(block_key(F.col("text")), 1, 24))
    a = allx.alias("a")
    b = allx.alias("b")
    return (
        a.join(b, (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.col("a.bkey").alias("bkey"))
    )


def q31_two_hop(spark, sf_dir):
    """J10 2-hop traversal as a join chain (kb_es_indexing.py:280-304):
    customer -> orders -> lineitem -> distinct parts touched."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey")
        .agg(F.countDistinct("l_partkey").cast("long").alias("n_parts"),
             F.count("*").cast("long").alias("n_lines"))
        .orderBy(F.desc("n_parts"), F.asc("c_custkey"))
        .limit(25)
    )


def q32_props_json(spark, sf_dir):
    """F17 JSON field extraction from a GENUINELY ragged props column —
    rows missing the key are planted (the fixture always carries it), and
    try_cast turns the no-match '' into NULL (a plain ANSI cast would
    throw), which sum() skips while count(*) still sees the row."""
    e = _t(spark, sf_dir, "events")
    aug = e.select("event_type", "props").unionByName(
        e.filter(F.col("event_id") % 37 == 0)
        .select("event_type", F.lit('{"ragged": true}').alias("props")))
    return (
        aug.withColumn("k", F.regexp_extract("props", r'"k": (\d+)', 1)
                       .try_cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").cast("long").alias("sum_k"),
             F.count("*").cast("long").alias("n"))
    )


def q33_capitalized_variant(spark, sf_dir):
    """F4 ALL-CAPS -> Title Case variant (merge.py:299-318): the ALL-CAPS
    rows produce a Title variant; the raw lowercase rows exercise the
    not-all-caps gate (NULL variant) — an always-initcap impl fails."""
    from softcite_kb_spark.functions.text import capitalized_variant
    p = _t(spark, sf_dir, "part")
    names = p.select((F.col("p_partkey") * 2).alias("name_id"),
                     F.upper("p_name").alias("name")).unionByName(
        p.select((F.col("p_partkey") * 2 + 1).alias("name_id"),
                 F.col("p_name").alias("name")))
    return names.select(
        "name_id", "name",
        capitalized_variant(F.col("name")).alias("variant"),
    )


def q34_hyphen_variant(spark, sf_dir):
    """F5 hyphen<->space variant, exactly-one-separator rule
    (merge.py:320-335). Raw p_name only exercises space->hyphen; planted
    hyphenated forms drive hyphen->space and a mixed space+hyphen form
    drives the NULL gate."""
    from softcite_kb_spark.functions.text import hyphen_variant
    p = _t(spark, sf_dir, "part")
    names = p.select((F.col("p_partkey") * 3).alias("name_id"),
                     F.col("p_name").alias("name"))
    for off, expr in (
        (1, F.replace(F.col("p_name"), F.lit(" "), F.lit("-"))),
        (2, F.concat(F.col("p_name"), F.lit("-x"))),
    ):
        names = names.unionByName(p.select(
            (F.col("p_partkey") * 3 + off).alias("name_id"),
            expr.alias("name")))
    return names.select(
        "name_id", "name",
        hyphen_variant(F.col("name")).alias("variant"),
    )


def q35_event_sessions(spark, sf_dir):
    """Gap-based sessionization (operators/temporal.sessionize — lag +
    running sum, stream-session analog in batch): a new session starts
    after a >30min silence; count sessions per user."""
    from softcite_kb_spark.operators.temporal import sessionize
    e = _t(spark, sf_dir, "events")
    s = sessionize(e, ["user_id"], "ts", gap_seconds=1800,
                   order_tiebreak=["event_id"])
    return (
        s.groupBy("user_id")
        .agg(F.max("session_idx").cast("long").alias("n_sessions"),
             F.count("*").cast("long").alias("n_events"))
    )


def q43_asof_join(spark, sf_dir):
    """As-of join (operators/temporal.asof_join): each purchase event
    gains the latest prior-or-simultaneous view event of the same user —
    oracle is DuckDB's native ASOF LEFT JOIN."""
    from softcite_kb_spark.operators.temporal import asof_join
    e = _t(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", F.round("value", 6).alias("v"))
    right = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
        F.round("value", 6).alias("r_value"))
    # pin the tiebreak: DuckDB's ASOF JOIN pick among right rows TIED on
    # r_ts is unspecified, while asof_join picks the greatest payload
    # struct — dedupe right to one row per (user_id, r_ts), keeping the
    # max-payload row, in BOTH engines, so the contract can't go flaky if
    # a regenerated events fixture ever contains tied view timestamps
    w_tie = Window.partitionBy("user_id", "r_ts").orderBy(
        F.desc("r_event_id"), F.desc("r_value"))
    right = (right.withColumn("__tn", F.row_number().over(w_tie))
             .filter(F.col("__tn") == 1).drop("__tn"))
    out = asof_join(left, right, ["user_id"], "ts", "r_ts")
    # no-match NULLs -> sentinels: pandas floats NULL bigint columns to
    # NaN and timestamps to NaT, breaking the driver's value compare
    # (same convention as q29's cube sentinels)
    return out.select(
        "user_id", "event_id", "ts", "v",
        F.coalesce("r_event_id", F.lit(-1)).alias("r_event_id"),
        F.coalesce("r_ts",
                   F.lit("1970-01-01 00:00:00").cast("timestamp")).alias("r_ts"),
        F.coalesce("r_value", F.lit(-1.0)).alias("r_value"),
    )


def q37_search_flatten(spark, sf_dir):
    """P6/S11 search flatten over a KB synthesized from lineitem; array/map
    columns rendered as deterministic scalars (concat_ws / to_json) so the
    driver's row canonicalizer and the DuckDB oracle can hash them."""
    from softcite_kb_spark.kb.indexing import flatten_for_search
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    nodes = p.select(
        F.concat(F.lit("P"), F.col("p_partkey")).alias("canonical_id"),
        F.col("p_name").alias("label"),
        F.array("p_brand").alias("aliases"),
        F.lit("part").alias("entity_type"),
        F.lit(1).cast("long").alias("n_mentions"),
    )
    edges = (
        li.groupBy(
            F.concat(F.lit("P"), F.col("l_partkey")).alias("src_id"),
            F.concat(F.lit("S"), F.col("l_suppkey")).alias("dst_id"))
        .agg(F.count("*").cast("long").alias("count"))
        .withColumn("rel", F.lit("supplied_by"))
        .withColumn("dst_surface", F.col("dst_id"))
    )
    stmts = li.select(
        F.concat(F.lit("P"), F.col("l_partkey")).alias("canonical_id"),
        F.lit("written_in").alias("prop"),
        F.col("l_returnflag").alias("value"),
        F.lit("string").alias("datatype"),
        F.lit("li").alias("source"),
        F.lit(1).cast("long").alias("count"),
    )
    flat = flatten_for_search(nodes, edges, stmts, max_contexts=5)
    return flat.select(
        "canonical_id", "label", "aliases_text", "entity_type", "n_mentions",
        F.concat_ws(",", F.coalesce(
            "langs", F.array().cast("array<string>"))).alias("langs_str"),
        F.coalesce(F.to_json("rel_counts"), F.lit("{}")).alias("rel_counts_json"),
        F.concat_ws(",", F.coalesce(
            "contexts_sample", F.array().cast("array<string>"))).alias("contexts_str"),
        "all",
    )


def q38_gazetteer_mentions(spark, sf_dir):
    """Gazetteer mention detection over synthetic transcripts: the curated
    surface dictionary (part-name gazetteer) matched with word boundaries
    (mapInPandas regex automaton); oracle reconstructs the expected mention
    set relationally from lineitem (boundary lookarounds guarantee only
    whole Part<k> tokens with k < 500 match)."""
    from softcite_kb_spark.operators.extraction import extract_mentions_gazetteer
    t = _synthetic_transcripts(spark, sf_dir).filter(
        F.col("conv_id").cast("long") < 3000)
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    auth = p.select(
        F.concat(F.lit("Part"), F.col("p_partkey")).alias("label"),
        F.concat(F.lit("Q"), F.col("p_partkey")).alias("entity_id"),
        F.array().cast("array<string>").alias("aliases"),
        F.lit("part").alias("entity_type"),
    )
    return extract_mentions_gazetteer(t, auth)


def q39_emb_most_similar_pairs(spark, sf_dir):
    """Embedding near-dup kernel: top-20 most-cosine-similar pairs in a
    bounded slice (brute-force verify path of the LSH near-dup op)."""
    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150) \
        .select("vec_id", "embedding")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b", sim.cosine(F.col("va"), F.col("vb")).alias("cos"))
    return scored.orderBy(F.desc("cos"), F.asc("id_a"), F.asc("id_b")).limit(20)


def q40_ivf_topk(spark, sf_dir):
    """IVF-style ANN: deterministic coarse quantizer (16 seed centroids),
    2-probe search — the second ANN scale path next to q28's hyperplane
    LSH; oracle reproduces cells, probes, and scoring relationally."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return sim.ivf_topk(e, q, n_cells=16, n_probe=2, k=5)


def q41_search_facets(spark, sf_dir):
    """ES-facet analog over a search feed (kb/indexing.facets): per-column
    top-k buckets, array columns per element."""
    from softcite_kb_spark.kb.indexing import facets
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    flat = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("entity_type"))
        .agg(F.sort_array(F.collect_set("l_returnflag")).alias("langs"),
             F.count("*").cast("long").alias("n_mentions"))
    )
    return facets(flat, ["entity_type", "langs"], k=10)


def q44_range_join(spark, sf_dir):
    """Bucketed point-in-interval join (operators/temporal.range_join):
    clicks landing inside the 6-hour window after each signup of the same
    user — equi-join on (user, time-bucket) + residual BETWEEN, never a
    nested-loop range join."""
    from softcite_kb_spark.operators.temporal import range_join
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts")
    windows = e.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("window_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("w_end"))
    out = range_join(clicks, windows, "ts", "w_start", "w_end",
                     key_cols=["user_id"], bucket_seconds=6 * 3600)
    return out.select("user_id", "click_id", "ts", "window_id",
                      "w_start", "w_end")


def q45_hypertable_rollup(spark, sf_dir):
    """Cascaded hour->day->month rollup (operators/temporal.
    hypertable_rollup): coarser grains re-aggregate the finer level; the
    oracle computes each grain directly from raw — proving the cascade is
    exact (sums rounded to 2 decimals for cross-engine float parity)."""
    from softcite_kb_spark.operators.temporal import hypertable_rollup
    e = _t(spark, sf_dir, "events")
    out = hypertable_rollup(e, "ts", "value", key_cols=["event_type"])
    return out.select("grain", "bucket", "event_type", "n",
                      F.round("sum_value", 2).alias("sum_value"))


def q46_emb_near_dup_lsh(spark, sf_dir):
    """Embedding near-dup pairs via hyperplane-bucket self-join
    (similarity.embedding_near_dup_pairs) — the LSH scale path of q39's
    brute-force kernel; the oracle rebuilds buckets from the same
    md5-derived planes."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.embedding_near_dup_pairs(e, dim=64, threshold=0.2, n_planes=4)


def q47_scrub_clean(spark, sf_dir):
    """PII scrub + text normalization (textops.scrub_pii/clean_text) over
    documents with planted emails/URLs/IPs/control chars — both engines
    apply the IDENTICAL regex battery (shared Java/RE2 subset)."""
    d = _t(spark, sf_dir, "documents")
    dirty = d.select(
        "doc_id",
        F.concat(
            F.lit("\x01 "), F.col("text"),
            F.lit("  contact bob.smith+x@example.co.uk via "
                  "https://ex.io/a?b=1#f from 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" end\t"),
        ).alias("text"))
    return dirty.select(
        "doc_id",
        tx.clean_text(tx.scrub_pii(F.col("text"))).alias("clean"))


def q48_gazetteer_token_join(spark, sf_dir):
    """The 10^6-surface gazetteer SCALE path (extraction.
    extract_mentions_token_join): dictionary stays a distributed
    DataFrame, turns explode into unigram/bigram candidates matched by
    equi-join — value-checked against the SAME relational ground truth
    as q38's regex path (the fixture's surfaces are non-overlapping, so
    the two paths agree exactly)."""
    from softcite_kb_spark.operators.extraction import (
        extract_mentions_token_join)
    t = _synthetic_transcripts(spark, sf_dir).filter(
        F.col("conv_id").cast("long") < 3000)
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") < 500)
    auth = p.select(
        F.concat(F.lit("Part"), F.col("p_partkey")).alias("label"),
        F.concat(F.lit("Q"), F.col("p_partkey")).alias("entity_id"),
        F.array().cast("array<string>").alias("aliases"),
        F.lit("part").alias("entity_type"),
    )
    return extract_mentions_token_join(t, auth)


def q49_bmp_decode(spark, sf_dir):
    """REAL media codec through the decode plumbing: genuine 24-bit BMP
    payloads built from documents (multimodal.media_from_documents_bmp),
    decoded by the real header/stride parser — width, height, byte size
    and padding-excluded pixel checksum all recomputed relationally by
    the oracle. This is the non-stub counterpart of q27."""
    d = _t(spark, sf_dir, "documents")
    return mm.decode_media(mm.media_from_documents_bmp(d))


def q58_png_decode(spark, sf_dir):
    """REAL compressed-format codec through the decode plumbing: genuine
    RGB PNGs built from documents (multimodal.media_from_documents_png —
    stored-deflate IDAT, scanline filter cycling through all five types),
    decoded by the real chunk-walk + CRC + zlib-inflate + unfilter
    decoder. Dimensions, byte size (closed-form because the IDAT uses
    stored blocks) and reconstructed-pixel checksum all recomputed
    relationally by the oracle — q49's counterpart for the first
    compressed format."""
    d = _t(spark, sf_dir, "documents")
    return mm.decode_media(mm.media_from_documents_png(d))


def q67_jpeg_decode(spark, sf_dir):
    """REAL transform-coded codec through the decode plumbing: genuine
    baseline JFIF JPEGs built from documents
    (multimodal.media_from_documents_jpeg — grayscale, 4:4:4 color and
    4:2:0 color with restart markers, cycling by doc_id), decoded by
    the real marker-walk + Huffman + dequant + IDCT decoder. Uniform
    gray pixels with flat quant=1 reconstruct bit-exactly (DC-only
    blocks), so dimensions and decoded-pixel checksum are closed-form
    for the oracle. n_bytes is projected AWAY: the entropy-coded
    length depends on Huffman bit counts + byte stuffing and is not a
    relational function of the inputs (unlike PNG's stored-deflate
    trick)."""
    d = _t(spark, sf_dir, "documents")
    return mm.decode_media(mm.media_from_documents_jpeg(d)) \
        .select("media_id", "kind", "width", "height", "checksum")


def q68_mp4_decode(spark, sf_dir):
    """REAL container demux through the decode plumbing: genuine ISO
    BMFF MP4s built from documents (multimodal.media_from_documents_mp4
    — real box tree, per-sample stsz, uniform 'gry8' frames), demuxed
    by the real box walk + tkhd + stsc/stco/stsz sample resolution.
    The checksum sums the DEMUXED sample extents, so a wrong sample
    table walk value-mismatches; n_bytes is closed-form because the
    box overhead is a pinned constant (_MP4_HEADER_BYTES). Only the
    inter-frame codec remains out of scope (sample bytes opaque)."""
    d = _t(spark, sf_dir, "documents")
    return mm.decode_media(mm.media_from_documents_mp4(d))


def q69_mp4_frame_sample(spark, sf_dir):
    """REAL frame sampling over the MP4 fixtures: every 2nd frame's
    index, byte size and checksum come from the container's resolved
    sample table — one row per actual sample extent, reconstructed
    relationally by the oracle (frame i is uniform (doc_id+i)%251)."""
    d = _t(spark, sf_dir, "documents")
    return mm.frame_sample(mm.media_from_documents_mp4(d), every_n=2)


def q70_video_resize(spark, sf_dir):
    """REAL video pixel resample: the MP4 fixtures' 'gry8' sample entry
    is uncompressed, so resize_media nearest-neighbor-resamples the
    DECODED first frame (uniform value doc_id%251 — resized_checksum =
    5*3*v exactly); the demuxed metadata columns are q68's."""
    d = _t(spark, sf_dir, "documents")
    return mm.resize_media(mm.media_from_documents_mp4(d), target=(5, 3))


def q71_doc_repetition(spark, sf_dir):
    """Gopher-style within-document repetition metrics
    (textops.repetition_stats): most-frequent word bigram + its
    character-coverage fraction, and the character fraction covered by
    duplicated trigrams — the duplicate-n-gram quality-filter family.
    One corpus scan, tagged-concat explode, two hash aggregations."""
    d = _t(spark, sf_dir, "documents")
    return tx.repetition_stats(d)


def q50_lsh_topk_multiprobe(spark, sf_dir):
    """Multi-probe hyperplane LSH ANN (similarity.probe_buckets): each
    query probes its base bucket plus the buckets reached by flipping its
    two smallest-|margin| sign bits — the recall-cliff fix over q28's
    single probe. The oracle rebuilds margins, probe ranking (round 9
    decimals, plane-index tiebreak), xor'd buckets, and scoring from the
    same md5-derived plane constants."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    return sim.lsh_topk(e, q, dim=64, k=5, n_planes=4, n_probe=3)


def q51_search_tfidf(spark, sf_dir):
    """TF-IDF ranked full-text search (kb/indexing.rank_tfidf): OR-match
    over lowercase alphanumeric tokens, smoothed idf, deterministic
    tiebreaks — the native relevance-scoring counterpart of q37's flatten
    and q41's facets (BM25 parity with ES is explicitly out of scope)."""
    from softcite_kb_spark.kb.indexing import rank_tfidf
    d = _t(spark, sf_dir, "documents")
    return rank_tfidf(d, "spark window merge", k=15,
                      id_col="doc_id", text_col="text")


def q59_search_bm25(spark, sf_dir):
    """Okapi BM25 ranked search (kb/indexing.rank_bm25): the reference's
    actual ES scoring model (Lucene default similarity, k1=1.2 b=0.75)
    implemented natively — closes the scoring-parity gap q51's tf-idf
    explicitly scoped out. One scan (array-filter tf/dl, no explode),
    one broadcast stats row; oracle reproduces idf/length-normalization
    bit-for-bit at 6 decimals."""
    from softcite_kb_spark.kb.indexing import rank_bm25
    d = _t(spark, sf_dir, "documents")
    return rank_bm25(d, "spark window merge", k=15,
                     id_col="doc_id", text_col="text")


def q52_corpus_prep(spark, sf_dir):
    """End-to-end corpus-prep pipeline (plans/corpus.CorpusPipeline):
    clean (PII scrub + normalization) -> exact dedup keep-min with
    PLANTED duplicates -> language/quality/length filter (non-vacuous:
    ~1/3 of docs fail the 0.62 quality floor, ~9% fail lang) -> token
    stats of the survivors, all through real snapshot commits. The
    near-dup leg is toggled off here: its CC step is the documented
    non-SQL op (pytest-verified with planted near-dups); LSH candidates
    and Jaccard verification have their own oracles (q25, q20)."""
    import tempfile

    from softcite_kb_spark.plans.corpus import CorpusConfig, CorpusPipeline
    from softcite_kb_spark.storage import TableStore

    # ONE deterministic scratch dir per sf_dir, overwritten on re-run —
    # the returned DataFrame reads lazily from these files, so they
    # cannot be deleted here; a per-call mkdtemp would accumulate
    # unbounded /tmp usage across harness runs, whereas TableStore's own
    # snapshot retirement (last 3) bounds this one
    scratch = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_q52_{os.path.basename(sf_dir.rstrip('/'))}")
    st = TableStore(scratch)
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text")
    st.write(d.unionByName(planted), "documents")
    CorpusPipeline(spark, st, CorpusConfig(
        near_dup=False, languages=("en",), min_quality=0.62,
        min_tokens=5)).run()
    return st.read(spark, "corpus_stats").select(
        "doc_id", "n_tokens", "punct_ratio", "sw_en")


def q56_near_dup_multitable(spark, sf_dir):
    """Multi-table LSH near-dup (similarity.embedding_near_dup_pairs
    n_tables=2): independent plane sets, candidates unioned + deduped
    before scoring — the recall lever over q46's single table."""
    e = _t(spark, sf_dir, "embeddings")
    return sim.embedding_near_dup_pairs(e, dim=64, threshold=0.2,
                                        n_planes=4, n_tables=2)


def q55_asof_join_tolerance(spark, sf_dir):
    """As-of join with a match window (pandas merge_asof tolerance
    analog): the latest prior view within 6 hours of each purchase,
    older matches nulled to the sentinel. Oracle = DuckDB native ASOF
    LEFT JOIN post-filtered by the same epoch-difference rule."""
    from softcite_kb_spark.operators.temporal import asof_join
    e = _t(spark, sf_dir, "events")
    left = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", F.round("value", 6).alias("v"))
    right = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
        F.round("value", 6).alias("r_value"))
    w_tie = Window.partitionBy("user_id", "r_ts").orderBy(
        F.desc("r_event_id"), F.desc("r_value"))
    right = (right.withColumn("__tn", F.row_number().over(w_tie))
             .filter(F.col("__tn") == 1).drop("__tn"))
    out = asof_join(left, right, ["user_id"], "ts", "r_ts",
                    tolerance=21600)
    return out.select(
        "user_id", "event_id", "ts", "v",
        F.coalesce("r_event_id", F.lit(-1)).alias("r_event_id"),
        F.coalesce("r_ts",
                   F.lit("1970-01-01 00:00:00").cast("timestamp")).alias("r_ts"),
        F.coalesce("r_value", F.lit(-1.0)).alias("r_value"),
    )


def q53_hash_split(spark, sf_dir):
    """Deterministic train/val/test assignment (operators/sampling.
    hash_split): a pure function of the row key via md5-derived uniform
    [0,1) — stable across runs, partitionings, cluster sizes (what
    randomSplit is not). Oracle recomputes every assignment from the
    same hash."""
    from softcite_kb_spark.operators.sampling import hash_split
    d = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_split(d, {"train": 0.9, "val": 0.05, "test": 0.05})


def q65_stratified_sample(spark, sf_dir):
    """Deterministic stratified subsampling (operators/sampling.
    stratified_hash_sample): the training-mix operator — per-stratum
    keep fractions applied as a pure threshold test on the md5-derived
    unit draw, so the plan is a filter over the scan (no shuffle, no
    window, no per-stratum funnel) and every kept row is recomputable
    by the oracle. Unmapped strata (signup/error) drop."""
    from softcite_kb_spark.operators.sampling import stratified_hash_sample
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id")
    return stratified_hash_sample(
        ev, "event_type",
        {"click": 0.5, "view": 0.2, "purchase": 1.0},
        key_col="event_id")


def q66_split_contamination(spark, sf_dir):
    """Train/eval n-gram contamination (dedup.cross_split_contamination
    — the standard decontamination rule): documents take q53's
    deterministic split, then every val/test doc reports how many of
    its distinct 3-gram shingles also occur anywhere in train. Gram
    hashing (32-bit md5 prefix) is shared with the oracle, so hash
    semantics — collisions included — match bit-for-bit."""
    from softcite_kb_spark.operators.dedup import cross_split_contamination
    from softcite_kb_spark.operators.sampling import hash_split
    d = hash_split(_t(spark, sf_dir, "documents").select("doc_id", "text"),
                   {"train": 0.9, "val": 0.05, "test": 0.05})
    return cross_split_contamination(d).select(
        "doc_id", "split", "n_shingles", "n_overlapping", "overlap_ratio")


def q54_token_packing(spark, sf_dir):
    """Fixed-token-budget sequence packing (operators/sampling.
    pack_token_budget): shard by key hash, offset-pack in key order
    within each shard — one window per shard, no global sort. Token
    counts from textops.text_stats; oracle rebuilds shards, prefix
    sums, and bin quotients relationally."""
    from softcite_kb_spark.operators.sampling import pack_token_budget
    d = tx.text_stats(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens")
    return pack_token_budget(d, budget=512, n_shards=8).select(
        "doc_id", "n_tokens", "shard", "bin_idx")


def q57_pagerank(spark, sf_dir):
    """PageRank over a part->supplier edge graph (operators/graph.
    pagerank): 3 power iterations, damping 0.85, dangling mass
    redistributed, intermediate ranks rounded to 9 decimals so the
    oracle can UNROLL the identical iterations in SQL. The structural
    node-importance signal the reference approximates with mention
    counts (SURVEY W1)."""
    from softcite_kb_spark.operators.graph import pagerank
    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"))
    return pagerank(edges, n_iter=3, damping=0.85)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: stage-1 extraction + fold + A1 ranking on sf0.001."""
    sf_dir = "/root/testdata/sf0.001"
    t = _synthetic_transcripts(spark, sf_dir)
    triples = ex.extract_triples(t, blacklist=None)
    mentions = ex.mentions_from_triples(triples)
    return (
        mentions.groupBy(F.col("surface").alias("entity"))
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("entity"))
        .limit(20)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": q01_pricing_summary,
        "q02_top_parts_by_citations": q02_top_parts_by_citations,
        "q03_segment_revenue_join": q03_segment_revenue_join,
        "q04_orders_per_customer_lists": q04_orders_per_customer_lists,
        "q05_event_type_distinct_users": q05_event_type_distinct_users,
        "q06_supplier_majority_vote": q06_supplier_majority_vote,
        "q07_best_value_priority": q07_best_value_priority,
        "q08_yearly_order_histogram": q08_yearly_order_histogram,
        "q09_latest_event_per_user": q09_latest_event_per_user,
        "q10_top_events_informativeness": q10_top_events_informativeness,
        "q11_union_entity_sources": q11_union_entity_sources,
        "q12_part_blacklist_filter": q12_part_blacklist_filter,
        "q13_name_normalization": q13_name_normalization,
        "q14_doc_token_stats": q14_doc_token_stats,
        "q15_doc_quality": q15_doc_quality,
        "q16_doc_langid": q16_doc_langid,
        "q17_doc_fingerprint": q17_doc_fingerprint,
        "q18_doc_exact_dup_groups": q18_doc_exact_dup_groups,
        "q19_doc_minhash": q19_doc_minhash,
        "q20_doc_jaccard_pairs": q20_doc_jaccard_pairs,
        "q21_emb_topk": q21_emb_topk,
        "q22_event_hourly_rollup": q22_event_hourly_rollup,
        "q23_extract_triples_synthetic": q23_extract_triples_synthetic,
        "q24_fold_mentions_synthetic": q24_fold_mentions_synthetic,
        "q25_lsh_candidate_pairs": q25_lsh_candidate_pairs,
        "q26_simhash_near_pairs": q26_simhash_near_pairs,
        "q27_multimodal_decode": q27_multimodal_decode,
        "q28_lsh_topk": q28_lsh_topk,
        "q29_facet_cube": q29_facet_cube,
        "q30_doc_blocking_selfjoin": q30_doc_blocking_selfjoin,
        "q31_two_hop": q31_two_hop,
        "q32_props_json": q32_props_json,
        "q33_capitalized_variant": q33_capitalized_variant,
        "q34_hyphen_variant": q34_hyphen_variant,
        "q35_event_sessions": q35_event_sessions,
        "q37_search_flatten": q37_search_flatten,
        "q38_gazetteer_mentions": q38_gazetteer_mentions,
        "q39_emb_most_similar_pairs": q39_emb_most_similar_pairs,
        "q40_ivf_topk": q40_ivf_topk,
        "q41_search_facets": q41_search_facets,
        "q43_asof_join": q43_asof_join,
        "q44_range_join": q44_range_join,
        "q45_hypertable_rollup": q45_hypertable_rollup,
        "q46_emb_near_dup_lsh": q46_emb_near_dup_lsh,
        "q47_scrub_clean": q47_scrub_clean,
        "q48_gazetteer_token_join": q48_gazetteer_token_join,
        "q49_bmp_decode": q49_bmp_decode,
        "q50_lsh_topk_multiprobe": q50_lsh_topk_multiprobe,
        "q51_search_tfidf": q51_search_tfidf,
        "q52_corpus_prep": q52_corpus_prep,
        "q53_hash_split": q53_hash_split,
        "q54_token_packing": q54_token_packing,
        "q55_asof_join_tolerance": q55_asof_join_tolerance,
        "q56_near_dup_multitable": q56_near_dup_multitable,
        "q57_pagerank": q57_pagerank,
        "q58_png_decode": q58_png_decode,
        "q59_search_bm25": q59_search_bm25,
        "q60_link_decisions": q60_link_decisions,
        "q61_canonical_components": q61_canonical_components,
        "q62_fold_statements": q62_fold_statements,
        "q63_build_edges": q63_build_edges,
        "q64_build_nodes": q64_build_nodes,
        "q65_stratified_sample": q65_stratified_sample,
        "q66_split_contamination": q66_split_contamination,
        "q67_jpeg_decode": q67_jpeg_decode,
        "q68_mp4_decode": q68_mp4_decode,
        "q69_mp4_frame_sample": q69_mp4_frame_sample,
        "q70_video_resize": q70_video_resize,
        "q71_doc_repetition": q71_doc_repetition,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_SW_EN = ", ".join(f"'{w}'" for w in tx.STOPWORDS_EN)
_SW_DE = ", ".join(f"'{w}'" for w in tx.STOPWORDS_DE)
_SW_FR = ", ".join(f"'{w}'" for w in tx.STOPWORDS_FR)
_SW_ES = ", ".join(f"'{w}'" for w in tx.STOPWORDS_ES)

# single quote doubled for SQL literal embedding
_PUNCT_SQL = r"""[.,;:!?''"()\[\]\-]"""

_DOC_STATS_CTE = f"""
WITH s AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> t <> '') AS toks,
         length(text) AS n_chars0
  FROM documents
), st AS (
  SELECT doc_id, text,
    len(toks)::BIGINT AS n_tokens,
    round((n_chars0 - length(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')))
          / greatest(n_chars0, 1), 6) AS punct_ratio,
    round((n_chars0 - length(regexp_replace(text, '[0-9]', '', 'g')))
          / greatest(n_chars0, 1), 6) AS digit_ratio,
    round(len(list_filter(toks, t -> lower(t) IN ({_SW_EN})))
          / greatest(len(toks), 1), 6) AS sw_en,
    round(len(list_filter(toks, t -> lower(t) IN ({_SW_DE})))
          / greatest(len(toks), 1), 6) AS sw_de,
    round(len(list_filter(toks, t -> lower(t) IN ({_SW_FR})))
          / greatest(len(toks), 1), 6) AS sw_fr,
    round(len(list_filter(toks, t -> lower(t) IN ({_SW_ES})))
          / greatest(len(toks), 1), 6) AS sw_es
  FROM s
)
"""


def _lsh_oracle_sql() -> str:
    """Full MinHash-LSH banding in SQL: 16 affine slots, 4 band hashes,
    bucket-capped self-join — generated from the same coefficients the
    Spark operator uses (dedup.minhash_params)."""
    params = dd.minhash_params(16)
    slots = ",\n              ".join(
        f"list_min([({a} * h + {b}) % {dd.MINHASH_PRIME} for h in hs]) AS s{i}"
        for i, (a, b) in enumerate(params))
    band_selects = "\n              UNION ALL\n              ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        f"md5(concat_ws(',', {', '.join(f's{b * 4 + r}::VARCHAR' for r in range(4))}))"
        f" AS band_hash FROM sig"
        for b in range(4))
    return f"""
        WITH allx AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
        ), sh AS (
          SELECT doc_id,
                 [('0x' || substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 8))::BIGINT
                  for i in range(1, greatest(len(toks) - 2, 0) + 1)] AS hs
          FROM (SELECT doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS toks
                FROM allx)
        ), sig AS (
          SELECT doc_id,
              {slots}
          FROM sh
        ), stacked AS (
              {band_selects}
        ), sized AS (
          SELECT *, count(*) OVER (PARTITION BY band_idx, band_hash) AS bucket_n
          FROM stacked
        ), capped AS (
          SELECT * FROM sized WHERE bucket_n <= 1000
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM capped a JOIN capped b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """


def _simhash_oracle_sql() -> str:
    """Full SimHash near-pair path in SQL: per-token md5 carried as two
    32-bit halves (exactly like dedup.simhash_column), per-bit +-1 sums,
    signed-long reassembly (bit 63 as the negative sentinel — DuckDB's
    1<<63 overflows), 16-bit-chunk pigeonhole blocking, Hamming via
    bit_count(xor)."""
    pow2 = ", ".join(str(1 << b) if b < 63 else "-9223372036854775808"
                     for b in range(64))
    return f"""
        WITH allx AS (
          SELECT doc_id, text FROM documents WHERE doc_id < 200
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
        ), tok AS (
          SELECT doc_id,
                 unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                    t -> t <> '')) AS t
          FROM allx
        ), h AS (
          SELECT doc_id,
                 ('0x' || substring(md5(t), 1, 8))::BIGINT AS hi,
                 ('0x' || substring(md5(t), 9, 8))::BIGINT AS lo
          FROM tok
        ), bits AS (
          SELECT doc_id, bb.b,
                 CASE WHEN (CASE WHEN bb.b < 32 THEN (lo >> bb.b)
                            ELSE (hi >> (bb.b - 32)) END) & 1 = 1
                      THEN 1 ELSE -1 END AS c
          FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) bb
        ), acc AS (
          SELECT doc_id, b, sum(c) AS s FROM bits GROUP BY 1, 2
        ), pw AS (
          SELECT unnest(range(64)) AS b, unnest([{pow2}]) AS p2
        ), sigs AS (
          SELECT acc.doc_id,
                 sum(CASE WHEN acc.s > 0 THEN pw.p2 ELSE 0 END)::BIGINT AS simhash
          FROM acc JOIN pw USING (b) GROUP BY 1
        ), sig AS (
          SELECT a.doc_id, coalesce(s.simhash, 0)::BIGINT AS simhash
          FROM allx a LEFT JOIN sigs s USING (doc_id)
        ), chunks0 AS (
          SELECT doc_id, simhash, cc.c AS chunk_idx,
                 (simhash >> (cc.c * 16)) & 65535 AS chunk_val
          FROM sig CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c) cc
        ), chunks AS (
          -- uncapped: simhash_near_pairs defaults max_bucket=0 (no
          -- silent caps); the cap path is pytest-covered with explicit
          -- opt-in (test_corpus_ops planted-boilerplate tests)
          SELECT doc_id, simhash, chunk_idx, chunk_val FROM chunks0
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.simhash AS sh_a, b.simhash AS sh_b
          FROM chunks a JOIN chunks b
            ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
           AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::INT AS hamming
        FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """


def _plane_coef_sql(p: int, c: int, seed: int = 13) -> float:
    import hashlib

    h = hashlib.md5(f"{seed}:{p}:{c}".encode()).hexdigest()[:8]
    return (int(h, 16) / 0xFFFFFFFF) * 2.0 - 1.0


def _plane_dot_sql(p: int, dim: int, col: str = "embedding",
                   seed: int = 13) -> str:
    coefs = ", ".join(repr(_plane_coef_sql(p, c, seed)) for c in range(dim))
    return f"list_dot_product({col}::DOUBLE[], [{coefs}])"


def _hyperplane_bucket_sql(n_planes: int = 4, dim: int = 64,
                           seed: int = 13, col: str = "embedding") -> str:
    """The hyperplane bucket id as a SQL expression: md5-derived plane
    coefficients (similarity.hyperplane_signs) embedded as repr'd double
    literals (repr round-trips, so both engines compare the identical
    double in the sign test)."""
    return " + ".join(
        f"CASE WHEN {_plane_dot_sql(p, dim, col, seed)} > 0 "
        f"THEN {1 << p} ELSE 0 END"
        for p in range(n_planes))


def _hyperplane_oracle_sql() -> str:
    """Hyperplane-LSH top-k in SQL (see _hyperplane_bucket_sql)."""
    bucket = _hyperplane_bucket_sql()
    return f"""
        WITH b AS (
          SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
        ), q AS (
          SELECT vec_id AS query_id, embedding AS qv, bucket
          FROM b WHERE vec_id < 3
        ), scored AS (
          SELECT q.query_id, b.vec_id,
                 round(list_dot_product(b.embedding::DOUBLE[], q.qv::DOUBLE[])
                       / greatest(
                           sqrt(list_dot_product(b.embedding::DOUBLE[],
                                                 b.embedding::DOUBLE[]))
                           * sqrt(list_dot_product(q.qv::DOUBLE[],
                                                   q.qv::DOUBLE[])),
                           1e-12), 6) AS cos
          FROM b JOIN q USING (bucket)
          WHERE b.vec_id <> q.query_id
        ), r AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5
    """


def _multiprobe_oracle_sql(n_planes: int = 4, dim: int = 64,
                           seed: int = 13, n_probe: int = 3,
                           k: int = 5) -> str:
    """q50: multi-probe LSH top-k in SQL. Probe set per query = base
    bucket + xor flips of the (n_probe-1) smallest-|margin| planes,
    margins rounded to 9 decimals with plane-index tiebreak — the exact
    ranking similarity.probe_buckets computes."""
    bucket = _hyperplane_bucket_sql(n_planes, dim, seed)
    qbase = _hyperplane_bucket_sql(n_planes, dim, seed, col="qv")
    margin_rows = " UNION ALL ".join(
        f"SELECT query_id, qv, base, {p} AS p, {1 << p} AS w, "
        f"round(abs({_plane_dot_sql(p, dim, 'qv', seed)}), 9) AS m FROM qm"
        for p in range(n_planes))
    return f"""
        WITH b AS (
          SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
        ), qm AS (
          SELECT vec_id AS query_id, embedding AS qv, {qbase} AS base
          FROM embeddings WHERE vec_id < 3
        ), flips AS (
          SELECT query_id, qv, base, w FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY m ASC, p ASC) AS rn
            FROM ({margin_rows})
          ) WHERE rn <= {n_probe - 1}
        ), probes AS (
          SELECT query_id, qv, base AS bucket FROM qm
          UNION ALL
          SELECT query_id, qv, xor(base::BIGINT, w::BIGINT) FROM flips
        ), scored AS (
          SELECT p.query_id, b.vec_id,
                 round(list_dot_product(b.embedding::DOUBLE[], p.qv::DOUBLE[])
                   / greatest(
                       sqrt(list_dot_product(b.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(p.qv::DOUBLE[],
                                               p.qv::DOUBLE[])), 1e-12),
                   6) AS cos
          FROM b JOIN probes p USING (bucket)
          WHERE b.vec_id <> p.query_id
        ), r AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, vec_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= {k}
    """


_CLEAN_SQL_EXPR = (
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace(regexp_replace(text, "
    r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
    r"'https?://\S+', '<URL>', 'g'), "
    r"'(^|[^0-9.])([0-9]{1,3}(\.[0-9]{1,3}){3})(\z|\.\z|\.[^0-9.]|[^0-9.])',"
    r" '\1<IP>\4', 'g'), "
    r"'(^|[^0-9.])([0-9]{1,3}(\.[0-9]{1,3}){3})(\z|\.\z|\.[^0-9.]|[^0-9.])',"
    r" '\1<IP>\4', 'g'), "
    r"'[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g'), "
    r"'\s+', ' ', 'g'))")


def _corpus_prep_oracle_sql() -> str:
    """q52: the corpus-prep composition in SQL — the SAME expressions as
    q47 (clean), q18 (fingerprint dedup keep-min), q15/q16 (quality/
    lang), q14 (stats), chained over the survivors at each stage."""
    stats = (_DOC_STATS_CTE
             .replace("WITH s AS", ", s AS")
             .replace("FROM documents", "FROM surv"))
    quality = ("round(0.4 * least(1.0, n_tokens / 64.0) "
               "+ 0.3 * (1.0 - least(1.0, punct_ratio * 5.0)) "
               "+ 0.3 * least(1.0, sw_en * 4.0), 6)")
    lang = ("CASE WHEN greatest(sw_en, sw_de, sw_fr, sw_es) IS NULL "
            "OR greatest(sw_en, sw_de, sw_fr, sw_es) <= 0.0 THEN 'und' "
            "WHEN sw_en = greatest(sw_en, sw_de, sw_fr, sw_es) THEN 'en' "
            "WHEN sw_de = greatest(sw_en, sw_de, sw_fr, sw_es) THEN 'de' "
            "WHEN sw_fr = greatest(sw_en, sw_de, sw_fr, sw_es) THEN 'fr' "
            "ELSE 'es' END")
    return f"""
        WITH raw AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
        ), cleanedx AS (
          SELECT doc_id, {_CLEAN_SQL_EXPR} AS text FROM raw
        ), cleaned AS (
          SELECT * FROM cleanedx
          WHERE text IS NOT NULL AND length(text) > 0
        ), surv AS (
          SELECT doc_id, text FROM (
            SELECT *, row_number() OVER (
              PARTITION BY
                md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')))
              ORDER BY doc_id) AS rn
            FROM cleaned
          ) WHERE rn = 1
        ){stats}
        SELECT doc_id, n_tokens, punct_ratio, sw_en
        FROM st
        WHERE ({lang}) = 'en'
          AND {quality} >= 0.62
          AND n_tokens BETWEEN 5 AND 1000000
    """


def _pagerank_oracle_sql(n_iter: int = 3, damping: float = 0.85) -> str:
    """q57: the power iterations UNROLLED as SQL CTEs — 9-decimal
    intermediate rounding, same dangling redistribution. Float parity
    detail: Spark computes (1.0 - d)/n with PYTHON DOUBLE arithmetic
    (1.0 - 0.85 = 0.15000000000000002); DuckDB would evaluate the bare
    literal subtraction in DECIMAL (exactly 0.15, one ulp lower as a
    double), so the SQL casts both operands to DOUBLE to force the
    identical double subtraction."""
    its = []
    for t in range(1, n_iter + 1):
        prev = f"r{t - 1}"
        its.append(f"""
        d{t} AS (
          SELECT coalesce(sum(rank), 0.0) AS dm FROM {prev}
          WHERE node NOT IN (SELECT src FROM outdeg)
        ), r{t} AS (
          SELECT n.node,
                 round((1.0::DOUBLE - {damping}::DOUBLE)
                         / (SELECT n FROM nn)
                       + {damping}::DOUBLE * (coalesce(c.c, 0.0)
                           + (SELECT dm FROM d{t})
                             / (SELECT n FROM nn)), 9) AS rank
          FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, sum(r.rank / o.outdeg) AS c
            FROM e JOIN {prev} r ON e.src = r.node
                   JOIN outdeg o ON e.src = o.src
            GROUP BY 1
          ) c ON n.node = c.node
        )""")
    return f"""
        WITH e AS (
          SELECT DISTINCT 'p' || l_partkey AS src, 's' || l_suppkey AS dst
          FROM lineitem
        ), nodes AS (
          SELECT src AS node FROM e UNION SELECT dst FROM e
        ), nn AS (
          SELECT count(*)::DOUBLE AS n FROM nodes
        ), outdeg AS (
          SELECT src, count(*)::DOUBLE AS outdeg FROM e GROUP BY 1
        ), r0 AS (
          SELECT node, round(1.0 / (SELECT n FROM nn), 9) AS rank
          FROM nodes
        ),{",".join(its)}
        SELECT node, round(rank, 6) AS rank FROM r{n_iter}
    """


def _near_dup_multitable_oracle_sql(n_tables: int = 2) -> str:
    """q56: multi-table LSH near-dup — per-table bucket self-joins from
    independent (seed-offset) plane sets, candidates UNIONed (distinct),
    scored once."""
    score = ("round(list_dot_product(a.embedding::DOUBLE[], "
             "b.embedding::DOUBLE[]) / greatest("
             "sqrt(list_dot_product(a.embedding::DOUBLE[], "
             "a.embedding::DOUBLE[])) * "
             "sqrt(list_dot_product(b.embedding::DOUBLE[], "
             "b.embedding::DOUBLE[])), 1e-12), 6)")
    # uncapped: embedding_near_dup_pairs defaults max_bucket=0 (no
    # silent caps); the capped path is pytest-covered with explicit
    # opt-in (test_corpus_ops planted-boilerplate tests)
    tables = ",\n".join(
        f"b{t} AS (SELECT vec_id, embedding, "
        f"{_hyperplane_bucket_sql(seed=13 + 101 * t)} AS bucket "
        f"FROM embeddings)"
        for t in range(n_tables))
    cands = "\nUNION\n".join(
        f"SELECT l.vec_id AS id_a, r.vec_id AS id_b FROM b{t} l "
        f"JOIN b{t} r ON l.bucket = r.bucket AND l.vec_id < r.vec_id"
        for t in range(n_tables))
    return f"""
        WITH {tables},
        cand AS ({cands})
        SELECT c.id_a, c.id_b, {score} AS cos
        FROM cand c
        JOIN embeddings a ON a.vec_id = c.id_a
        JOIN embeddings b ON b.vec_id = c.id_b
        WHERE {score} >= 0.2
    """


def _near_dup_lsh_oracle_sql() -> str:
    """q46: bucket self-join near-dup pairs from the same plane constants."""
    bucket = _hyperplane_bucket_sql()
    return f"""
        WITH b AS (
          -- uncapped: embedding_near_dup_pairs defaults max_bucket=0
          -- (no silent caps); capped path pytest-covered with explicit
          -- opt-in
          SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
        )
        SELECT l.vec_id AS id_a, r.vec_id AS id_b,
               round(list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
                 / greatest(
                     sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
                     * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[])),
                     1e-12), 6) AS cos
        FROM b l JOIN b r
          ON l.bucket = r.bucket AND l.vec_id < r.vec_id
        WHERE round(list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
                / greatest(
                    sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[])),
                    1e-12), 6) >= 0.2
    """


def oracle_sql() -> dict[str, str]:
    return {
        "q25_lsh_candidate_pairs": _lsh_oracle_sql(),
        "q46_emb_near_dup_lsh": _near_dup_lsh_oracle_sql(),
        "q56_near_dup_multitable": _near_dup_multitable_oracle_sql(),
        "q57_pagerank": _pagerank_oracle_sql(),
        # q59: Okapi BM25 — same tokenizer as q51; Robertson idf and
        # length normalization with literals cast ::DOUBLE (DuckDB
        # evaluates bare decimal literals in DECIMAL, one ulp off
        # Spark's doubles); contribution order = sorted terms
        # (merge, spark, window), operation order mirrored exactly
        "q59_search_bm25": """
            WITH per AS (
              SELECT doc_id,
                     len(list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), t -> t <> ''))::DOUBLE AS dl,
                     len(list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), t -> t = 'merge'))::DOUBLE AS tf0,
                     len(list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), t -> t = 'spark'))::DOUBLE AS tf1,
                     len(list_filter(string_split_regex(lower(text),
                         '[^a-z0-9]+'), t -> t = 'window'))::DOUBLE AS tf2
              FROM documents
            ), stats AS (
              SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl,
                     sum((tf0 > 0)::INT)::DOUBLE AS df0,
                     sum((tf1 > 0)::INT)::DOUBLE AS df1,
                     sum((tf2 > 0)::INT)::DOUBLE AS df2
              FROM per
            )
            SELECT doc_id,
                   round(
                     ln(1.0::DOUBLE + (n - df0 + 0.5::DOUBLE)
                        / (df0 + 0.5::DOUBLE)) * tf0 * 2.2::DOUBLE
                       / (tf0 + 1.2::DOUBLE * (0.25::DOUBLE
                          + 0.75::DOUBLE * dl / avgdl))
                   + ln(1.0::DOUBLE + (n - df1 + 0.5::DOUBLE)
                        / (df1 + 0.5::DOUBLE)) * tf1 * 2.2::DOUBLE
                       / (tf1 + 1.2::DOUBLE * (0.25::DOUBLE
                          + 0.75::DOUBLE * dl / avgdl))
                   + ln(1.0::DOUBLE + (n - df2 + 0.5::DOUBLE)
                        / (df2 + 0.5::DOUBLE)) * tf2 * 2.2::DOUBLE
                       / (tf2 + 1.2::DOUBLE * (0.25::DOUBLE
                          + 0.75::DOUBLE * dl / avgdl)), 6) AS score
            FROM per, stats
            WHERE greatest(tf0, tf1, tf2) > 0
            ORDER BY score DESC, doc_id
            LIMIT 15
        """,
        # q58: the REAL PNG decoder vs a relational reconstruction —
        # uniform pixels make checksum = 3*w*h*v; stored-deflate IDAT
        # makes n_bytes closed-form: 68 + h*(1+3w) (sig 8 + IHDR 25 +
        # IDAT overhead 12 + zlib-stored raw+11 + IEND 12)
        "q58_png_decode": """
            SELECT doc_id::BIGINT AS media_id,
                   'image' AS kind,
                   (1 + doc_id % 13)::INT AS width,
                   (1 + (doc_id * 3) % 11)::INT AS height,
                   (68 + (1 + (doc_id * 3) % 11)
                       * (1 + 3 * (1 + doc_id % 13)))::BIGINT AS n_bytes,
                   ((3 * (1 + doc_id % 13) * (1 + (doc_id * 3) % 11)
                       * (doc_id % 251)) % 2147483648)::BIGINT AS checksum
            FROM documents
        """,
        # q67: the REAL JPEG decoder vs a relational reconstruction —
        # uniform gray value v = doc_id % 251 survives the DCT round
        # trip exactly (DC-only blocks, flat quant=1; neutral color
        # maps to Cb=Cr=128 so BT.601 is drift-free), so checksum =
        # channels*w*h*v with channels = 1 (even ids) or 3 (odd)
        "q67_jpeg_decode": """
            SELECT doc_id::BIGINT AS media_id,
                   'image' AS kind,
                   (8 * (1 + doc_id % 6))::INT AS width,
                   (8 * (1 + (doc_id * 3) % 5))::INT AS height,
                   ((CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END)
                     * 8 * (1 + doc_id % 6) * 8 * (1 + (doc_id * 3) % 5)
                     * (doc_id % 251) % 2147483648)::BIGINT AS checksum
            FROM documents
        """,
        # q68: the REAL MP4 demuxer vs a relational reconstruction —
        # w = 4*(1+id%5), h = 4*(1+3id%7), n = 1+id%6, frame i uniform
        # (id+i)%251; sum_i((v+i)%251) closed form with one wraparound
        # correction (n <= 6 so at most one wrap past 250); n_bytes =
        # _MP4_HEADER_BYTES(599) + n*(w*h + 4)
        "q68_mp4_decode": """
            WITH p AS (
              SELECT doc_id, 4 * (1 + doc_id % 5) AS w,
                     4 * (1 + (doc_id * 3) % 7) AS h,
                     (1 + doc_id % 6) AS n, doc_id % 251 AS v
              FROM documents
            )
            SELECT doc_id::BIGINT AS media_id,
                   'video' AS kind, w::INT AS width, h::INT AS height,
                   (599 + n * (w * h + 4))::BIGINT AS n_bytes,
                   ((w * h * (n * v + n * (n - 1) / 2
                       - 251 * greatest(v + n - 251, 0)))
                     % 2147483648)::BIGINT AS checksum
            FROM p
        """,
        # q69: real per-frame sampling (every_n=2) — one row per actual
        # sample extent; frame_bytes = w*h, frame i checksum =
        # w*h*((v+i)%251)
        "q69_mp4_frame_sample": """
            WITH p AS (
              SELECT doc_id, 4 * (1 + doc_id % 5) AS w,
                     4 * (1 + (doc_id * 3) % 7) AS h,
                     (1 + doc_id % 6) AS n, doc_id % 251 AS v
              FROM documents
            ), f AS (
              SELECT doc_id, w, h, n, v,
                     unnest(range(0, n, 2)) AS i
              FROM p
            )
            SELECT doc_id::BIGINT AS media_id, i::INT AS frame_idx,
                   n::INT AS n_frames, (w * h)::BIGINT AS frame_bytes,
                   ((w * h * ((v + i) % 251))
                     % 2147483648)::BIGINT AS frame_checksum
            FROM f
        """,
        # q70: q68's metadata + a REAL first-frame nearest-neighbor
        # resample (frame 0 uniform v = doc_id%251, so the 5x3 resample
        # sums to 15*v exactly)
        "q70_video_resize": """
            WITH p AS (
              SELECT doc_id, 4 * (1 + doc_id % 5) AS w,
                     4 * (1 + (doc_id * 3) % 7) AS h,
                     (1 + doc_id % 6) AS n, doc_id % 251 AS v
              FROM documents
            )
            SELECT doc_id::BIGINT AS media_id,
                   'video' AS kind, w::INT AS width, h::INT AS height,
                   (599 + n * (w * h + 4))::BIGINT AS n_bytes,
                   ((w * h * (n * v + n * (n - 1) / 2
                       - 251 * greatest(v + n - 251, 0)))
                     % 2147483648)::BIGINT AS checksum,
                   5::INT AS target_width, 3::INT AS target_height,
                   (15 * v)::BIGINT AS resized_checksum
            FROM p
        """,
        # q71: word-bigram/trigram repetition — gram construction via a
        # lateral index unnest; tie-break ORDER BY c DESC, gram DESC is
        # exactly Spark's max(struct(c, gram)); coverage fractions are
        # the overlap-uncorrected sum clamped to 1.0 (operator contract)
        "q71_doc_repetition": """
            WITH toks AS (
              SELECT doc_id,
                     length(regexp_replace(text, '\\s+', '', 'g'))
                     AS chars,
                     regexp_split_to_array(trim(text), '\\s+') AS t
              FROM documents
            ), g2 AS (
              SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
              FROM toks, UNNEST(range(1, len(t))) AS r(i)
            ), c2 AS (
              SELECT doc_id, gram, count(*)::BIGINT AS c
              FROM g2 GROUP BY 1, 2
            ), top AS (
              SELECT doc_id, gram, c,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY c DESC, gram DESC)
                     AS rn
              FROM c2
            ), g3 AS (
              SELECT doc_id,
                     t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
              FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
            ), c3 AS (
              SELECT doc_id, sum(c * (length(gram) - 2)) AS dup_chars
              FROM (SELECT doc_id, gram, count(*)::BIGINT AS c
                    FROM g3 GROUP BY 1, 2)
              WHERE c > 1 GROUP BY 1
            )
            SELECT k.doc_id,
                   tp.gram AS top_gram,
                   coalesce(tp.c, 0)::BIGINT AS top_gram_count,
                   round(least(1.0::DOUBLE,
                       coalesce(tp.c * (length(tp.gram) - 1), 0)
                       / greatest(k.chars, 1)), 6)
                   AS top_gram_char_frac,
                   round(least(1.0::DOUBLE,
                       coalesce(c3.dup_chars, 0)
                       / greatest(k.chars, 1)), 6)
                   AS dup_gram_char_frac
            FROM toks k
            LEFT JOIN (SELECT * FROM top WHERE rn = 1) tp
              USING (doc_id)
            LEFT JOIN c3 USING (doc_id)
        """,
        "q26_simhash_near_pairs": _simhash_oracle_sql(),
        "q28_lsh_topk": _hyperplane_oracle_sql(),
        "q50_lsh_topk_multiprobe": _multiprobe_oracle_sql(),
        "q52_corpus_prep": _corpus_prep_oracle_sql(),
        # q53: the md5-derived unit interval recomputed per key; CASE
        # thresholds in the same dict order as the Spark side
        # q66: q53's split + distinct 3-gram shingles hashed to 32-bit
        # md5 prefixes; eval grams join train's distinct gram set
        "q66_split_contamination": """
            WITH sp AS (
              SELECT doc_id, text,
                     CASE WHEN u < 0.9 THEN 'train'
                          WHEN u < 0.95 THEN 'val'
                          ELSE 'test' END AS split
              FROM (
                SELECT doc_id, text,
                       ('0x' || substring(md5('7:' || doc_id), 1, 8))::BIGINT
                         / 4294967296.0 AS u
                FROM documents)
            ), toks AS (
              SELECT doc_id, split,
                     list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 t -> t <> '') AS tk
              FROM sp
            ), gr AS (
              SELECT doc_id, split,
                     unnest(list_distinct(
                       [array_to_string(tk[i:i+2], ' ')
                        for i in range(1, greatest(len(tk) - 2, 0) + 1)]))
                       AS g
              FROM toks
            ), gh AS (
              SELECT doc_id, split,
                     ('0x' || substring(md5(g), 1, 8))::BIGINT AS h
              FROM gr
            ), train_g AS (
              SELECT DISTINCT h FROM gh WHERE split = 'train'
            ), ev AS (
              SELECT * FROM gh WHERE split <> 'train'
            ), tot AS (
              SELECT doc_id, split, count(*)::BIGINT AS n_shingles
              FROM ev GROUP BY 1, 2
            ), hit AS (
              SELECT e.doc_id, e.split, count(*)::BIGINT AS n_overlapping
              FROM ev e JOIN train_g t ON e.h = t.h GROUP BY 1, 2
            )
            SELECT b.doc_id, b.split,
                   coalesce(tot.n_shingles, 0)::BIGINT AS n_shingles,
                   coalesce(hit.n_overlapping, 0)::BIGINT AS n_overlapping,
                   CASE WHEN coalesce(tot.n_shingles, 0) > 0
                        THEN round(coalesce(hit.n_overlapping, 0)
                                   / tot.n_shingles, 6)
                        ELSE 0.0 END AS overlap_ratio
            FROM (SELECT DISTINCT doc_id, split FROM sp
                  WHERE split <> 'train') b
            LEFT JOIN tot USING (doc_id, split)
            LEFT JOIN hit USING (doc_id, split)
        """,
        # q65: per-stratum threshold over the same md5 unit draw as q53
        "q65_stratified_sample": """
            SELECT event_id, event_type, user_id
            FROM (
              SELECT event_id, event_type, user_id,
                     ('0x' || substring(md5('7:' || event_id), 1, 8))::BIGINT
                       / 4294967296.0 AS u
              FROM events
            )
            WHERE u < CASE event_type
                        WHEN 'click' THEN 0.5
                        WHEN 'view' THEN 0.2
                        WHEN 'purchase' THEN 1.0
                        ELSE 0.0 END
        """,
        "q53_hash_split": """
            SELECT doc_id,
                   CASE WHEN u < 0.9 THEN 'train'
                        WHEN u < 0.95 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
              SELECT doc_id,
                     ('0x' || substring(md5('7:' || doc_id), 1, 8))::BIGINT
                       / 4294967296.0 AS u
              FROM documents
            )
        """,
        # q54: shard hash, per-shard token prefix sum (ROWS ... 1
        # PRECEDING), bin = prefix // budget — the offset-packing rule
        "q54_token_packing": _DOC_STATS_CTE + """
            SELECT doc_id, n_tokens,
                   shard,
                   (coalesce(sum(n_tokens) OVER (
                      PARTITION BY shard ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) // 512)::BIGINT AS bin_idx
            FROM (
              SELECT doc_id, n_tokens,
                     (('0x' || substring(md5('shard7:' || doc_id), 1, 8))
                        ::BIGINT % 8) AS shard
              FROM st
            )
        """,
        # q49: the REAL BMP decoder vs a relational reconstruction — the
        # fixture's dims/pixel value are modular functions of doc_id and
        # the image is uniform, so checksum = 3*w*h*v and n_bytes =
        # header + h * 4-byte-aligned stride, both exact in SQL
        "q49_bmp_decode": """
            SELECT doc_id::BIGINT AS media_id,
                   'image' AS kind,
                   (1 + doc_id % 13)::INT AS width,
                   (1 + (doc_id * 3) % 11)::INT AS height,
                   (54 + (1 + (doc_id * 3) % 11)
                       * ((3 * (1 + doc_id % 13) + 3) // 4 * 4))::BIGINT
                     AS n_bytes,
                   ((3 * (1 + doc_id % 13) * (1 + (doc_id * 3) % 11)
                       * (doc_id % 251)) % 2147483648)::BIGINT AS checksum
            FROM documents
        """,
        # q38: ground truth reconstructed relationally (the boundary
        # lookarounds admit exactly the whole Part<k> tokens, k < 500)
        "q38_gazetteer_mentions": """
            SELECT l_orderkey::VARCHAR AS conv_id, l_linenumber AS turn_idx,
                   'Part' || l_partkey AS surface
            FROM lineitem WHERE l_orderkey < 3000 AND l_partkey < 500
            UNION ALL
            SELECT l_orderkey::VARCHAR, l_linenumber, 'Part' || l_suppkey
            FROM lineitem WHERE l_orderkey < 3000 AND l_suppkey < 500
        """,
        # q48: the token-join SCALE path against the SAME ground truth as
        # q38 (non-overlapping gazetteer -> paths agree exactly)
        "q48_gazetteer_token_join": """
            SELECT l_orderkey::VARCHAR AS conv_id, l_linenumber AS turn_idx,
                   'Part' || l_partkey AS surface
            FROM lineitem WHERE l_orderkey < 3000 AND l_partkey < 500
            UNION ALL
            SELECT l_orderkey::VARCHAR, l_linenumber, 'Part' || l_suppkey
            FROM lineitem WHERE l_orderkey < 3000 AND l_suppkey < 500
        """,
        # q40: IVF — same deterministic centroid seed set (16 smallest ids),
        # rounded-cosine argmax assignment, 2-probe, top-5; every tiebreak
        # mirrored (cell_id asc, vec_id asc)
        "q40_ivf_topk": """
            WITH cents AS (
              SELECT vec_id AS cell_id, embedding AS cv
              FROM embeddings ORDER BY vec_id ASC LIMIT 16
            ), ac AS (
              SELECT e.vec_id, e.embedding, c.cell_id,
                     row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       round(list_dot_product(e.embedding::DOUBLE[], c.cv::DOUBLE[])
                         / greatest(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                                    * sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[])), 1e-12), 6)
                       DESC, c.cell_id ASC) AS rn
              FROM embeddings e CROSS JOIN cents c
            ), assigned AS (
              SELECT vec_id, embedding, cell_id FROM ac WHERE rn = 1
            ), qc AS (
              SELECT q.vec_id AS query_id, q.embedding AS qv, c.cell_id,
                     row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       round(list_dot_product(q.embedding::DOUBLE[], c.cv::DOUBLE[])
                         / greatest(sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                                    * sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[])), 1e-12), 6)
                       DESC, c.cell_id ASC) AS rn
              FROM (SELECT * FROM embeddings WHERE vec_id < 3) q
              CROSS JOIN cents c
            ), probes AS (
              SELECT query_id, qv, cell_id FROM qc WHERE rn <= 2
            ), scored AS (
              SELECT p.query_id, a.vec_id,
                     round(list_dot_product(a.embedding::DOUBLE[], p.qv::DOUBLE[])
                       / greatest(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                                  * sqrt(list_dot_product(p.qv::DOUBLE[], p.qv::DOUBLE[])), 1e-12), 6) AS cos
              FROM assigned a JOIN probes p USING (cell_id)
              WHERE a.vec_id <> p.query_id
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5
        """,
        # q43: DuckDB's native ASOF LEFT JOIN is the oracle for the
        # union+window as-of implementation
        "q43_asof_join": """
            WITH l AS (
              SELECT user_id, event_id, ts, round(value, 6) AS v
              FROM events WHERE event_type = 'purchase'
            ), r0 AS (
              SELECT user_id, event_id AS r_event_id, ts AS r_ts,
                     round(value, 6) AS r_value
              FROM events WHERE event_type = 'view'
            ), r AS (
              -- tiebreak pinned on both engines: one row per (user_id,
              -- r_ts), max payload wins (see the Spark-side comment)
              SELECT user_id, r_event_id, r_ts, r_value FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id, r_ts
                          ORDER BY r_event_id DESC, r_value DESC) AS tn
                FROM r0
              ) WHERE tn = 1
            )
            SELECT l.user_id, l.event_id, l.ts, l.v,
                   coalesce(r.r_event_id, -1) AS r_event_id,
                   coalesce(r.r_ts, TIMESTAMP '1970-01-01 00:00:00') AS r_ts,
                   coalesce(r.r_value, -1.0) AS r_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.r_ts
        """,
        # q55: native ASOF LEFT JOIN + the same epoch-difference
        # tolerance rule as a post-filter (the latest match is the
        # closest, so nulling a too-old latest == latest-within-window)
        "q55_asof_join_tolerance": """
            WITH l AS (
              SELECT user_id, event_id, ts, round(value, 6) AS v
              FROM events WHERE event_type = 'purchase'
            ), r0 AS (
              SELECT user_id, event_id AS r_event_id, ts AS r_ts,
                     round(value, 6) AS r_value
              FROM events WHERE event_type = 'view'
            ), r AS (
              SELECT user_id, r_event_id, r_ts, r_value FROM (
                SELECT *, row_number() OVER (PARTITION BY user_id, r_ts
                          ORDER BY r_event_id DESC, r_value DESC) AS tn
                FROM r0
              ) WHERE tn = 1
            ), j AS (
              SELECT l.user_id, l.event_id, l.ts, l.v,
                     CASE WHEN epoch(l.ts) - epoch(r.r_ts) <= 21600
                          THEN r.r_event_id END AS r_event_id,
                     CASE WHEN epoch(l.ts) - epoch(r.r_ts) <= 21600
                          THEN r.r_ts END AS r_ts,
                     CASE WHEN epoch(l.ts) - epoch(r.r_ts) <= 21600
                          THEN r.r_value END AS r_value
              FROM l ASOF LEFT JOIN r
                ON l.user_id = r.user_id AND l.ts >= r.r_ts
            )
            SELECT user_id, event_id, ts, v,
                   coalesce(r_event_id, -1) AS r_event_id,
                   coalesce(r_ts, TIMESTAMP '1970-01-01 00:00:00') AS r_ts,
                   coalesce(r_value, -1.0) AS r_value
            FROM j
        """,
        # q44: plain BETWEEN join is the oracle for the bucketed range join
        "q44_range_join": """
            WITH c AS (
              SELECT user_id, event_id AS click_id, ts
              FROM events WHERE event_type = 'click'
            ), w AS (
              SELECT user_id, event_id AS window_id, ts AS w_start,
                     ts + INTERVAL 6 HOUR AS w_end
              FROM events WHERE event_type = 'signup'
            )
            SELECT c.user_id, c.click_id, c.ts,
                   w.window_id, w.w_start, w.w_end
            FROM c JOIN w ON c.user_id = w.user_id
             AND c.ts >= w.w_start AND c.ts <= w.w_end
        """,
        # q45: each grain computed DIRECTLY from raw — the oracle that the
        # Spark side's cascaded re-aggregation is exact
        "q45_hypertable_rollup": """
            SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket,
                   event_type, count(*)::BIGINT AS n,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'day', date_trunc('day', ts), event_type,
                   count(*)::BIGINT, round(sum(value), 2)
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'month', date_trunc('month', ts), event_type,
                   count(*)::BIGINT, round(sum(value), 2)
            FROM events GROUP BY 2, 3
        """,
        # q47: identical regex battery (shared Java/RE2 subset) in SQL
        # q47: ONE source of truth for the SQL scrub chain —
        # _CLEAN_SQL_EXPR (q52's corpus-prep oracle uses the same
        # constant, so a pattern fix can never desync the two)
        "q47_scrub_clean": f"""
            WITH dirty AS (
              SELECT doc_id,
                     chr(1) || ' ' || text
                     || '  contact bob.smith+x@example.co.uk via '
                     || 'https://ex.io/a?b=1#f from 10.0.0.'
                     || (doc_id % 256) || ' end' || chr(9) AS text
              FROM documents
            )
            SELECT doc_id, {_CLEAN_SQL_EXPR} AS clean
            FROM dirty
        """,
        # q51: tf-idf ranked search — identical tokenization, smoothed
        # idf, and tiebreaks in SQL (rank-15 boundary pinned by doc_id)
        "q51_search_tfidf": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(list_filter(
                       string_split_regex(lower(text), '[^a-z0-9]+'),
                       t -> t <> '')) AS term
              FROM documents
            ), hits AS (
              SELECT doc_id, term FROM toks
              WHERE term IN ('merge', 'spark', 'window')
            ), tf AS (
              SELECT doc_id, term, count(*)::DOUBLE AS tf
              FROM hits GROUP BY 1, 2
            ), dfreq AS (
              SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
              FROM hits GROUP BY 1
            ), n AS (
              SELECT count(*)::DOUBLE AS n FROM documents
            ), idf AS (
              SELECT term, ln((n.n + 1.0) / (df + 1.0)) + 1.0 AS idf
              FROM dfreq, n
            ), scored AS (
              SELECT doc_id, round(sum(tf * idf), 6) AS score
              FROM tf JOIN idf USING (term) GROUP BY 1
            )
            SELECT doc_id, score FROM scored
            ORDER BY score DESC, doc_id ASC LIMIT 15
        """,
        # q41: facets — per-column top-k buckets; array column unnested
        "q41_search_facets": """
            WITH flat AS (
              SELECT p_brand AS entity_type,
                     list_sort(list(DISTINCT l_returnflag)) AS langs
              FROM lineitem JOIN part ON l_partkey = p_partkey
              GROUP BY 1
            ), f1 AS (
              SELECT 'entity_type' AS facet, entity_type AS value,
                     count(*)::BIGINT AS n
              FROM flat GROUP BY 2 ORDER BY n DESC, value ASC LIMIT 10
            ), f2 AS (
              SELECT 'langs' AS facet, value, count(*)::BIGINT AS n
              FROM (SELECT unnest(langs) AS value FROM flat)
              GROUP BY 2 ORDER BY n DESC, value ASC LIMIT 10
            )
            SELECT * FROM f1 UNION ALL SELECT * FROM f2
        """,
        # q27: decoded fields reconstructed relationally from documents —
        # header fields are modular functions of doc_id, checksum is the
        # byte sum of the (ASCII) text body mod 2^31
        "q27_multimodal_decode": """
            SELECT doc_id AS media_id,
                   CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   (8 + doc_id % 56)::INT AS width,
                   (8 + (doc_id * 7) % 56)::INT AS height,
                   (16 + length(text))::BIGINT AS n_bytes,
                   (list_aggregate(list_transform(string_split(text, ''),
                                                  c -> ascii(c)), 'sum')
                    % 2147483648)::BIGINT AS checksum
            FROM documents
        """,
        "q39_emb_most_similar_pairs": """
            WITH e AS (
              SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150
            ), p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     round(
                       list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                       / greatest(
                           sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                           * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])),
                           1e-12), 6) AS cos
              FROM e a JOIN e b ON a.vec_id < b.vec_id
            )
            SELECT id_a, id_b, cos FROM p
            ORDER BY cos DESC, id_a ASC, id_b ASC LIMIT 20
        """,
        "q01_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*)::BIGINT AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q02_top_parts_by_citations": """
            SELECT l_partkey AS entity, count(*)::BIGINT AS cnt
            FROM lineitem GROUP BY 1
            ORDER BY cnt DESC, entity ASC LIMIT 25
        """,
        "q03_segment_revenue_join": """
            SELECT c_mktsegment,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(DISTINCT o_orderkey)::BIGINT AS n_orders
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "q04_orders_per_customer_lists": """
            SELECT o_custkey AS grp,
                   array_to_string(list_sort(list(o_orderkey)), ',') AS items_str,
                   count(*)::BIGINT AS n_items
            FROM orders GROUP BY 1
            ORDER BY n_items DESC, grp ASC LIMIT 20
        """,
        "q05_event_type_distinct_users": """
            SELECT event_type,
                   count(DISTINCT user_id)::BIGINT AS n_distinct,
                   count(*)::BIGINT AS n_total
            FROM events GROUP BY 1
        """,
        "q06_supplier_majority_vote": """
            WITH src AS (
              SELECT l_partkey, l_suppkey FROM lineitem
              UNION ALL
              SELECT l_partkey, 9999::BIGINT AS l_suppkey
              FROM lineitem, range(2) WHERE l_partkey < 40
            ), v AS (
              SELECT l_partkey, l_suppkey, count(*)::BIGINT AS votes
              FROM src GROUP BY 1, 2
            ), t AS (
              SELECT *, sum(votes) OVER (PARTITION BY l_partkey)::BIGINT AS total,
                     row_number() OVER (PARTITION BY l_partkey
                                        ORDER BY votes DESC, l_suppkey ASC) AS rn
              FROM v
            )
            SELECT l_partkey, l_suppkey, votes, total
            FROM t WHERE rn = 1 AND total >= 10 AND votes * 2 > total
        """,
        "q07_best_value_priority": """
            WITH s AS (
              SELECT l_partkey AS canonical_id, 'supplier' AS prop,
                     l_suppkey::VARCHAR AS value, l_returnflag AS source,
                     l_quantity::BIGINT AS count
              FROM lineitem
            ), r AS (
              SELECT *, row_number() OVER (
                PARTITION BY canonical_id, prop
                ORDER BY CASE source WHEN 'R' THEN 1 WHEN 'A' THEN 2
                         WHEN 'N' THEN 3 ELSE 4 END ASC,
                         count DESC, value ASC) AS rn
              FROM s
            )
            SELECT canonical_id, prop, value, source, count FROM r WHERE rn = 1
        """,
        "q08_yearly_order_histogram": """
            SELECT o_orderpriority, year(o_orderdate)::INT AS year,
                   count(*)::BIGINT AS n_events,
                   count(DISTINCT o_custkey)::BIGINT AS n_customers
            FROM orders GROUP BY 1, 2
        """,
        "q09_latest_event_per_user": """
            WITH r AS (
              SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            )
            SELECT user_id, event_id, event_type, round(value, 6) AS value
            FROM r WHERE rn = 1
        """,
        "q10_top_events_informativeness": """
            WITH r AS (
              SELECT *, row_number() OVER (PARTITION BY user_id
                        ORDER BY value DESC, length(props) DESC, event_id ASC)
                        AS rank
              FROM events
            )
            SELECT user_id, event_id, rank FROM r WHERE rank <= 2
        """,
        "q11_union_entity_sources": """
            SELECT source, count(*)::BIGINT AS n,
                   count(DISTINCT name)::BIGINT AS n_names
            FROM (
              SELECT c_name AS name, 'customer' AS source FROM customer
              UNION ALL
              SELECT s_name AS name, 'supplier' AS source FROM supplier
            ) GROUP BY 1
        """,
        "q12_part_blacklist_filter": """
            WITH p AS (
              SELECT *, string_split(p_name, ' ')[1] AS first_tok FROM part
            )
            SELECT p_brand, count(*)::BIGINT AS n_parts
            FROM p
            WHERE first_tok NOT IN ('red', 'blue', '42')
              AND try_cast(first_tok AS DOUBLE) IS NULL
            GROUP BY 1
        """,
        "q13_name_normalization": """
            WITH names AS (
              SELECT p_partkey*4 AS name_id, p_name AS name FROM part
              UNION ALL SELECT p_partkey*4+1, upper(p_name) FROM part
              UNION ALL SELECT p_partkey*4+2, replace(p_name, ' ', '-')
              FROM part
              UNION ALL SELECT p_partkey*4+3,
                '  ' || regexp_replace(p_name, ' ', '   ', 'g') || ' '
              FROM part
            )
            SELECT name_id,
                   trim(regexp_replace(lower(replace(name, '-', ' ')),
                                       '\\s+', ' ', 'g')) AS norm,
                   regexp_replace(lower(name), '[^a-z0-9]', '', 'g') AS bkey,
                   upper(name) AS upper_name
            FROM names
        """,
        "q14_doc_token_stats": _DOC_STATS_CTE + """
            SELECT doc_id, n_tokens, punct_ratio, digit_ratio, sw_en FROM st
        """,
        "q15_doc_quality": _DOC_STATS_CTE + """
            SELECT doc_id,
                   round(0.4 * least(1.0, n_tokens / 64.0)
                         + 0.3 * (1.0 - least(1.0, punct_ratio * 5.0))
                         + 0.3 * least(1.0, sw_en * 4.0), 6) AS quality
            FROM st
        """,
        "q16_doc_langid": _DOC_STATS_CTE + """
            SELECT doc_id,
              CASE WHEN greatest(sw_en, sw_de, sw_fr, sw_es) IS NULL
                     OR greatest(sw_en, sw_de, sw_fr, sw_es) <= 0.0 THEN 'und'
                   WHEN sw_en = greatest(sw_en, sw_de, sw_fr, sw_es) THEN 'en'
                   WHEN sw_de = greatest(sw_en, sw_de, sw_fr, sw_es) THEN 'de'
                   WHEN sw_fr = greatest(sw_en, sw_de, sw_fr, sw_es) THEN 'fr'
                   ELSE 'es' END AS lang_pred
            FROM st
        """,
        "q17_doc_fingerprint": """
            SELECT doc_id,
                   md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')))
                   AS fingerprint
            FROM documents
        """,
        "q18_doc_exact_dup_groups": """
            WITH allx AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
            ), g AS (
              SELECT md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')))
                       AS fingerprint,
                     count(*)::BIGINT AS group_size,
                     min(doc_id) AS keep_id,
                     array_to_string(list_transform(list_sort(list(doc_id)),
                                                    x -> x::VARCHAR), ',')
                       AS ids_str
              FROM allx GROUP BY 1
            )
            SELECT fingerprint, group_size, keep_id, ids_str
            FROM g WHERE group_size > 1
        """,
        # affine-permutation MinHash: base = md5-derived 32-bit hash per
        # shingle, slot_i = min((a_i*base + b_i) mod P); coefficients from
        # softcite_kb_spark.operators.dedup.minhash_params(4)
        "q19_doc_minhash": """
            WITH s AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM documents WHERE doc_id < 100
            ), sh AS (
              SELECT doc_id,
                     [('0x' || substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 8))::BIGINT
                      for i in range(1, greatest(len(toks) - 2, 0) + 1)] AS hs
              FROM s
            )
            SELECT doc_id,
              list_min([(319907179 * h + 1053692278) % 4294967311 for h in hs]) AS mh0,
              list_min([(519121712 * h + 1690591343) % 4294967311 for h in hs]) AS mh1,
              list_min([(1613104210 * h + 794218001) % 4294967311 for h in hs]) AS mh2,
              list_min([(1020094999 * h + 192563853) % 4294967311 for h in hs]) AS mh3
            FROM sh
        """,
        "q20_doc_jaccard_pairs": """
            WITH allx AS (
              SELECT doc_id, text FROM documents WHERE doc_id < 60
              UNION ALL
              SELECT doc_id + 1000000, substring(text, 1, 200)
              FROM documents WHERE doc_id < 25
            ), s AS (
              SELECT doc_id,
                     regexp_split_to_array(trim(text), '\\s+') AS toks
              FROM allx
            ), sh AS (
              SELECT doc_id,
                     list_distinct([array_to_string(toks[i:i+2], ' ')
                      for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS sh
              FROM s
            ), pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sh AS sh_a, b.sh AS sh_b
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            ), j AS (
              SELECT id_a, id_b,
                     len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS inter,
                     len(sh_a) + len(sh_b)
                       - len(list_filter(sh_a, x -> list_contains(sh_b, x))) AS uni
              FROM pairs
            )
            SELECT id_a, id_b,
                   round(inter / greatest(uni, 1), 6) AS jaccard
            FROM j WHERE round(inter / greatest(uni, 1), 6) >= 0.05
        """,
        "q21_emb_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 3
            ), scored AS (
              SELECT q.query_id, e.vec_id,
                     round(
                       list_dot_product(e.embedding::DOUBLE[], qv::DOUBLE[])
                       / greatest(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                                  * sqrt(list_dot_product(qv::DOUBLE[], qv::DOUBLE[])), 1e-12),
                       6) AS cos
              FROM embeddings e CROSS JOIN q
              WHERE e.vec_id <> q.query_id
            ), r AS (
              SELECT *, row_number() OVER (PARTITION BY query_id
                        ORDER BY cos DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, cos, rank FROM r WHERE rank <= 5
        """,
        "q22_event_hourly_rollup": """
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   count(*)::BIGINT AS n,
                   round(sum(value), 6) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "q23_extract_triples_synthetic": """
            SELECT l_orderkey::VARCHAR AS conv_id,
                   l_linenumber AS turn_idx,
                   'Part' || l_partkey AS subj,
                   'depends_on' AS pred,
                   'Part' || l_suppkey AS obj
            FROM lineitem
        """,
        "q29_facet_cube": """
            SELECT coalesce(event_type, 'ALL') AS event_type,
                   coalesce(year(ts)::INT, -1) AS year,
                   count(*)::BIGINT AS n
            FROM events GROUP BY CUBE(event_type, year(ts)::INT)
        """,
        "q30_doc_blocking_selfjoin": """
            WITH allx AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 25
            ), keyed AS (
              SELECT doc_id,
                     substring(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                               1, 24) AS bkey
              FROM allx
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.bkey AS bkey
            FROM keyed a JOIN keyed b
              ON a.bkey = b.bkey AND a.doc_id < b.doc_id
        """,
        "q31_two_hop": """
            SELECT c_custkey,
                   count(DISTINCT l_partkey)::BIGINT AS n_parts,
                   count(*)::BIGINT AS n_lines
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
            ORDER BY n_parts DESC, c_custkey ASC LIMIT 25
        """,
        "q32_props_json": """
            WITH aug AS (
              SELECT event_type, props FROM events
              UNION ALL
              SELECT event_type, '{"ragged": true}' FROM events
              WHERE event_id % 37 = 0
            )
            SELECT event_type,
                   sum(TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1)
                                AS BIGINT))::BIGINT AS sum_k,
                   count(*)::BIGINT AS n
            FROM aug GROUP BY 1
        """,
        "q33_capitalized_variant": """
            WITH names AS (
              SELECT p_partkey*2 AS name_id, upper(p_name) AS name FROM part
              UNION ALL SELECT p_partkey*2+1, p_name FROM part
            ), t AS (
              SELECT name_id, name,
                     array_to_string(
                       list_transform(string_split(lower(name), ' '),
                         w -> upper(substring(w, 1, 1)) || substring(w, 2)),
                       ' ') AS title
              FROM names
            )
            SELECT name_id, name,
                   CASE WHEN name = upper(name) AND name <> title
                        THEN title END AS variant
            FROM t
        """,
        "q34_hyphen_variant": """
            WITH names AS (
              SELECT p_partkey*3 AS name_id, p_name AS name FROM part
              UNION ALL SELECT p_partkey*3+1, replace(p_name, ' ', '-')
              FROM part
              UNION ALL SELECT p_partkey*3+2, p_name || '-x' FROM part
            )
            SELECT name_id, name,
              CASE
                WHEN length(name) - length(replace(name, '-', '')) = 1
                 AND length(name) - length(replace(name, ' ', '')) = 0
                THEN replace(name, '-', ' ')
                WHEN length(name) - length(replace(name, ' ', '')) = 1
                 AND length(name) - length(replace(name, '-', '')) = 0
                THEN replace(name, ' ', '-')
              END AS variant
            FROM names
        """,
        "q35_event_sessions": """
            WITH s AS (
              SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_ts
              FROM events
            ), flags AS (
              SELECT user_id,
                     CASE WHEN prev_ts IS NULL THEN 1
                          WHEN epoch(ts) - epoch(prev_ts) > 1800 THEN 1
                          ELSE 0 END AS new_sess
              FROM s
            )
            SELECT user_id, sum(new_sess)::BIGINT AS n_sessions,
                   count(*)::BIGINT AS n_events
            FROM flags GROUP BY 1
        """,
        # q37: the search flatten rebuilt relationally — nodes from part,
        # edges/statements from lineitem, arrays rendered exactly like the
        # Spark side (sorted + comma/space-joined, map as JSON)
        "q37_search_flatten": """
            WITH nodes AS (
              SELECT 'P' || p_partkey AS canonical_id, p_name AS label,
                     p_brand AS aliases_text, 'part' AS entity_type,
                     1::BIGINT AS n_mentions
              FROM part
            ), edges AS (
              SELECT 'P' || l_partkey AS src_id, 'S' || l_suppkey AS dst_id,
                     count(*)::BIGINT AS cnt
              FROM lineitem GROUP BY 1, 2
            ), langs AS (
              SELECT 'P' || l_partkey AS canonical_id,
                     list_sort(list(DISTINCT l_returnflag)) AS langs_arr
              FROM lineitem GROUP BY 1
            ), rels AS (
              SELECT src_id AS canonical_id,
                     '{"supplied_by":' || sum(cnt)::BIGINT || '}' AS rel_counts_json
              FROM edges GROUP BY 1
            ), topk AS (
              SELECT src_id, dst_id,
                     row_number() OVER (PARTITION BY src_id
                                        ORDER BY cnt DESC, dst_id ASC) AS rn
              FROM edges
            ), ctx AS (
              SELECT src_id AS canonical_id,
                     list_sort(list(dst_id)) AS ctx_arr
              FROM topk WHERE rn <= 5 GROUP BY 1
            )
            SELECT n.canonical_id, n.label, n.aliases_text, n.entity_type,
                   n.n_mentions,
                   coalesce(array_to_string(l.langs_arr, ','), '') AS langs_str,
                   coalesce(r.rel_counts_json, '{}') AS rel_counts_json,
                   coalesce(array_to_string(c.ctx_arr, ','), '') AS contexts_str,
                   concat_ws(' ', n.label, n.aliases_text,
                             coalesce(array_to_string(l.langs_arr, ' '), ''),
                             coalesce(array_to_string(c.ctx_arr, ' '), ''))
                     AS "all"
            FROM nodes n
            LEFT JOIN langs l ON n.canonical_id = l.canonical_id
            LEFT JOIN rels r ON n.canonical_id = r.canonical_id
            LEFT JOIN ctx c ON n.canonical_id = c.canonical_id
        """,
        # q64: node materialization in SQL — the label is the raw form
        # most CONVERSATIONS used (rc desc, raw asc), aliases the sorted
        # distinct raw set, per-component mention totals summed; the
        # all-caps variant on every third line makes the selection
        # non-trivial
        "q64_build_nodes": """
            WITH mrow AS (
              SELECT l_orderkey::VARCHAR AS conv_id,
                     'part' || l_partkey AS norm_surface,
                     CASE WHEN l_linenumber % 3 = 0
                          THEN 'PART' || l_partkey
                          ELSE 'Part' || l_partkey END AS raw
              FROM lineitem
              UNION ALL
              SELECT l_orderkey::VARCHAR, 'part' || l_suppkey,
                     'Part' || l_suppkey
              FROM lineitem
            ), folded AS (
              SELECT conv_id, norm_surface, count(*) AS n
              FROM mrow GROUP BY 1, 2
            ), stats AS (
              SELECT norm_surface, sum(n)::BIGINT AS mtot
              FROM folded GROUP BY 1
            ), ents AS (
              SELECT 'E' || p_partkey AS entity_id,
                     'part' || p_partkey AS key FROM part
            ), accepted AS (
              SELECT s.norm_surface, e.entity_id
              FROM stats s JOIN ents e ON s.norm_surface = e.key
              WHERE s.mtot >= 2
            ), nodes AS (
              SELECT f.conv_id, f.norm_surface, a.entity_id,
                     'm:' || substr(sha256(f.conv_id || chr(31)
                                    || f.norm_surface), 1, 24) AS node_id
              FROM folded f LEFT JOIN accepted a USING (norm_surface)
            ), reps AS (
              SELECT norm_surface, min(node_id) AS srep
              FROM nodes GROUP BY 1
            ), canonmap AS (
              SELECT n.conv_id, n.norm_surface,
                     CASE WHEN n.entity_id IS NOT NULL
                          THEN 'e:' || n.entity_id
                          ELSE r.srep END AS canonical_id
              FROM nodes n JOIN reps r USING (norm_surface)
            ), ps AS (
              SELECT c.canonical_id, c.norm_surface,
                     sum(f.n)::BIGINT AS cnt
              FROM folded f JOIN canonmap c USING (conv_id, norm_surface)
              GROUP BY 1, 2
            ), raws AS (
              SELECT DISTINCT conv_id, norm_surface, raw FROM mrow
            ), rf AS (
              SELECT c.canonical_id, r.norm_surface, r.raw,
                     count(*) AS rc
              FROM raws r JOIN canonmap c USING (conv_id, norm_surface)
              GROUP BY 1, 2, 3
            ), br AS (
              SELECT canonical_id, norm_surface, raw FROM (
                SELECT *, row_number() OVER (
                  PARTITION BY canonical_id, norm_surface
                  ORDER BY rc DESC, raw ASC) AS rr FROM rf)
              WHERE rr = 1
            ), tops AS (
              SELECT canonical_id, norm_surface FROM (
                SELECT ps.*, row_number() OVER (
                  PARTITION BY canonical_id
                  ORDER BY cnt DESC, norm_surface ASC) AS rn FROM ps)
              WHERE rn = 1
            ), al AS (
              SELECT canonical_id,
                     string_agg(raw, ',' ORDER BY raw) AS aliases
              FROM (SELECT DISTINCT canonical_id, raw FROM rf)
              GROUP BY 1
            ), nm AS (
              SELECT canonical_id, sum(cnt)::BIGINT AS n_mentions,
                     count(*)::BIGINT AS n_surfaces
              FROM ps GROUP BY 1
            )
            SELECT t.canonical_id, b.raw AS label, al.aliases,
                   nm.n_mentions,
                   CASE WHEN t.canonical_id LIKE 'e:%'
                        THEN substr(t.canonical_id, 3) END AS entity_id,
                   nm.n_surfaces
            FROM tops t
            JOIN br b USING (canonical_id, norm_surface)
            JOIN al USING (canonical_id)
            JOIN nm USING (canonical_id)
        """,
        # q63: edge materialization in SQL — both triple endpoints map
        # through q61's canonical map (objects are mentioned surfaces in
        # this fixture, so the canonical path resolves every dst), then
        # (src, dst, rel) dedup with count + min dst surface
        "q63_build_edges": """
            WITH m AS (
              SELECT l_orderkey::VARCHAR AS conv_id,
                     'part' || l_partkey AS norm_surface
              FROM lineitem
              UNION ALL
              SELECT l_orderkey::VARCHAR, 'part' || l_suppkey
              FROM lineitem
            ), folded AS (
              SELECT conv_id, norm_surface, count(*) AS n
              FROM m GROUP BY 1, 2
            ), stats AS (
              SELECT norm_surface, sum(n)::BIGINT AS mtot
              FROM folded GROUP BY 1
            ), ents AS (
              SELECT 'E' || p_partkey AS entity_id,
                     'part' || p_partkey AS key FROM part
              UNION ALL
              SELECT 'A' || p_partkey, 'part' || p_partkey
              FROM part WHERE p_partkey % 10 = 0
            ), cand AS (
              SELECT s.norm_surface, e.entity_id, s.mtot
              FROM stats s JOIN ents e ON s.norm_surface = e.key
            ), sized AS (
              SELECT *,
                     count(*) OVER (PARTITION BY norm_surface) AS b,
                     min(entity_id) OVER (PARTITION BY norm_surface)
                       AS win
              FROM cand
            ), accepted AS (
              SELECT norm_surface, entity_id FROM sized
              WHERE entity_id = win AND b * mtot >= 2
                AND mtot > b * mtot * 0.5
            ), nodes AS (
              SELECT f.conv_id, f.norm_surface, a.entity_id,
                     'm:' || substr(sha256(f.conv_id || chr(31)
                                    || f.norm_surface), 1, 24) AS node_id
              FROM folded f LEFT JOIN accepted a USING (norm_surface)
            ), reps AS (
              SELECT norm_surface, min(node_id) AS srep
              FROM nodes GROUP BY 1
            ), canonmap AS (
              SELECT n.conv_id, n.norm_surface,
                     CASE WHEN n.entity_id IS NOT NULL
                          THEN 'e:' || n.entity_id
                          ELSE r.srep END AS canonical_id
              FROM nodes n JOIN reps r USING (norm_surface)
            ), trip AS (
              SELECT l_orderkey::VARCHAR AS conv_id,
                     'part' || l_partkey AS subj_key,
                     'part' || l_suppkey AS obj_key,
                     'Part' || l_suppkey AS obj
              FROM lineitem
            )
            SELECT s.canonical_id AS src_id, d.canonical_id AS dst_id,
                   'depends_on' AS rel, count(*)::BIGINT AS count,
                   min(t.obj) AS dst_surface
            FROM trip t
            JOIN canonmap s ON s.conv_id = t.conv_id
                           AND s.norm_surface = t.subj_key
            JOIN canonmap d ON d.conv_id = t.conv_id
                           AND d.norm_surface = t.obj_key
            GROUP BY 1, 2
        """,
        # q62: statement folding in SQL — q61's canonical map keys the
        # depends_on triples; identical (canonical, prop, value) rows
        # merge with window count (BEFORE the 8-row qualifier cap) and
        # qualifiers compare as an order-pinned comma-joined string
        "q62_fold_statements": """
            WITH m AS (
              SELECT l_orderkey::VARCHAR AS conv_id,
                     'part' || l_partkey AS norm_surface
              FROM lineitem
              UNION ALL
              SELECT l_orderkey::VARCHAR, 'part' || l_suppkey
              FROM lineitem
            ), folded AS (
              SELECT conv_id, norm_surface, count(*) AS n
              FROM m GROUP BY 1, 2
            ), stats AS (
              SELECT norm_surface, sum(n)::BIGINT AS mtot
              FROM folded GROUP BY 1
            ), ents AS (
              SELECT 'E' || p_partkey AS entity_id,
                     'part' || p_partkey AS key FROM part
              UNION ALL
              SELECT 'A' || p_partkey, 'part' || p_partkey
              FROM part WHERE p_partkey % 10 = 0
            ), cand AS (
              SELECT s.norm_surface, e.entity_id, s.mtot
              FROM stats s JOIN ents e ON s.norm_surface = e.key
            ), sized AS (
              SELECT *,
                     count(*) OVER (PARTITION BY norm_surface) AS b,
                     min(entity_id) OVER (PARTITION BY norm_surface)
                       AS win
              FROM cand
            ), accepted AS (
              SELECT norm_surface, entity_id FROM sized
              WHERE entity_id = win AND b * mtot >= 2
                AND mtot > b * mtot * 0.5
            ), nodes AS (
              SELECT f.conv_id, f.norm_surface, a.entity_id,
                     'm:' || substr(sha256(f.conv_id || chr(31)
                                    || f.norm_surface), 1, 24) AS node_id
              FROM folded f LEFT JOIN accepted a USING (norm_surface)
            ), reps AS (
              SELECT norm_surface, min(node_id) AS srep
              FROM nodes GROUP BY 1
            ), canonmap AS (
              SELECT n.conv_id, n.norm_surface,
                     CASE WHEN n.entity_id IS NOT NULL
                          THEN 'e:' || n.entity_id
                          ELSE r.srep END AS canonical_id
              FROM nodes n JOIN reps r USING (norm_surface)
            ), trip AS (
              SELECT l_orderkey::VARCHAR AS conv_id,
                     l_linenumber AS turn_idx,
                     'part' || l_partkey AS norm_surface,
                     'Part' || l_suppkey AS obj
              FROM lineitem
            ), keyed AS (
              SELECT c.canonical_id, t.obj, t.conv_id, t.turn_idx
              FROM trip t JOIN canonmap c USING (conv_id, norm_surface)
            ), grp AS (
              SELECT *,
                count(*) OVER (PARTITION BY canonical_id, obj) AS cnt,
                row_number() OVER (PARTITION BY canonical_id, obj
                                   ORDER BY conv_id, turn_idx) AS rn
              FROM keyed
            )
            SELECT canonical_id, 'depends_on' AS prop, obj AS value,
                   'string' AS datatype, 'transcripts' AS source,
                   cnt::BIGINT AS count,
                   string_agg(conv_id || ':' || turn_idx, ','
                              ORDER BY conv_id, turn_idx) AS quals
            FROM grp WHERE rn <= 8
            GROUP BY canonical_id, obj, cnt
        """,
        # q61: canonicalization in SQL — q60's accepted map left-joined
        # onto folded mentions, content-hash node ids via sha256 (same
        # digest as Spark's sha2), canonical = e:<entity> for accepted
        # surfaces else the surface's min mention node id (the CC
        # fixpoint of a 1:1 surface-entity graph, closed-form)
        "q61_canonical_components": """
            WITH m AS (
              SELECT l_orderkey::VARCHAR AS conv_id,
                     'part' || l_partkey AS norm_surface
              FROM lineitem
              UNION ALL
              SELECT l_orderkey::VARCHAR, 'part' || l_suppkey
              FROM lineitem
            ), folded AS (
              SELECT conv_id, norm_surface, count(*) AS n
              FROM m GROUP BY 1, 2
            ), stats AS (
              SELECT norm_surface, sum(n)::BIGINT AS mtot
              FROM folded GROUP BY 1
            ), ents AS (
              SELECT 'E' || p_partkey AS entity_id,
                     'part' || p_partkey AS key FROM part
              UNION ALL
              SELECT 'A' || p_partkey, 'part' || p_partkey
              FROM part WHERE p_partkey % 10 = 0
            ), cand AS (
              SELECT s.norm_surface, e.entity_id, s.mtot
              FROM stats s JOIN ents e ON s.norm_surface = e.key
            ), sized AS (
              SELECT *,
                     count(*) OVER (PARTITION BY norm_surface) AS b,
                     min(entity_id) OVER (PARTITION BY norm_surface)
                       AS win
              FROM cand
            ), accepted AS (
              SELECT norm_surface, entity_id FROM sized
              WHERE entity_id = win AND b * mtot >= 2
                AND mtot > b * mtot * 0.5
            ), nodes AS (
              SELECT f.conv_id, f.norm_surface, a.entity_id,
                     'm:' || substr(sha256(f.conv_id || chr(31)
                                    || f.norm_surface), 1, 24) AS node_id
              FROM folded f LEFT JOIN accepted a USING (norm_surface)
            ), reps AS (
              SELECT norm_surface, min(node_id) AS srep
              FROM nodes GROUP BY 1
            )
            SELECT n.conv_id, n.norm_surface, n.entity_id, n.node_id,
                   CASE WHEN n.entity_id IS NOT NULL
                        THEN 'e:' || n.entity_id
                        ELSE r.srep END AS canonical_id
            FROM nodes n JOIN reps r USING (norm_surface)
        """,
        # q60: the disambiguation vote in SQL — mention folding (q24's
        # oracle), surface totals, label-blocked candidates from the
        # synthetic part-derived authority, and the factorized majority
        # rule: votes(s,e) = M(s) for the best set; accept iff the
        # winner (min entity id) holds a strict majority of
        # |B| * M total votes and the total clears min_total=2
        "q60_link_decisions": """
            WITH m AS (
              SELECT l_orderkey::VARCHAR AS conv_id,
                     'part' || l_partkey AS norm_surface
              FROM lineitem
              UNION ALL
              SELECT l_orderkey::VARCHAR, 'part' || l_suppkey
              FROM lineitem
            ), folded AS (
              SELECT conv_id, norm_surface, count(*) AS n
              FROM m GROUP BY 1, 2
            ), stats AS (
              SELECT norm_surface, sum(n)::BIGINT AS mtot
              FROM folded GROUP BY 1
            ), ents AS (
              SELECT 'E' || p_partkey AS entity_id,
                     'part' || p_partkey AS key FROM part
              UNION ALL
              SELECT 'A' || p_partkey, 'part' || p_partkey
              FROM part WHERE p_partkey % 10 = 0
            ), cand AS (
              SELECT s.norm_surface, e.entity_id, s.mtot
              FROM stats s JOIN ents e ON s.norm_surface = e.key
            ), sized AS (
              SELECT *,
                     count(*) OVER (PARTITION BY norm_surface) AS b,
                     min(entity_id) OVER (PARTITION BY norm_surface)
                       AS win
              FROM cand
            )
            SELECT norm_surface, entity_id,
                   mtot AS votes,
                   (b * mtot)::BIGINT AS total_votes,
                   1.0::DOUBLE AS score,
                   'label' AS method
            FROM sized
            WHERE entity_id = win
              AND b * mtot >= 2
              AND mtot > b * mtot * 0.5
        """,
        "q24_fold_mentions_synthetic": """
            WITH m AS (
              SELECT l_orderkey::VARCHAR AS conv_id, l_linenumber AS turn_idx,
                     'part' || l_partkey AS norm_surface
              FROM lineitem
              UNION ALL
              SELECT l_orderkey::VARCHAR, l_linenumber, 'part' || l_suppkey
              FROM lineitem
            )
            SELECT conv_id, norm_surface, count(*)::BIGINT AS n_mentions,
                   min(turn_idx) AS first_turn_idx
            FROM m GROUP BY 1, 2
        """,
    }


if __name__ == "__main__":
    from softcite_kb_spark.session import get_spark

    s = get_spark()
    entry(s).show(20, truncate=False)

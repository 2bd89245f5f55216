"""Tests for the KB read path: search flatten (P6/S11 analog), facets,
ranking and the api_queries traversals."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from softcite_kb_spark.kb import indexing as ix


def _kb_frames(spark):
    nodes = spark.createDataFrame(pd.DataFrame({
        "canonical_id": ["e:Q1", "e:Q2"],
        "label": ["Statlib", "Dataforge"],
        "aliases": [["STATLIB"], []],
        "entity_type": ["software", "software"],
        "n_mentions": [10, 3],
    }))
    edges = spark.createDataFrame(pd.DataFrame({
        "src_id": ["e:Q1", "e:Q1", "e:Q2"],
        "dst_id": ["e:Q2", "e:Q9", "e:Q9"],
        "rel": ["depends_on", "created_by", "created_by"],
        "count": [4, 1, 2],
        "dst_surface": ["Dataforge", "Ada Lovelace", "Ada Lovelace"],
    }))
    stmts = spark.createDataFrame(pd.DataFrame({
        "canonical_id": ["e:Q1", "e:Q1"],
        "prop": ["written_in", "has_version"],
        "value": ["Python", "1.2"],
        "datatype": ["string"] * 2,
        "source": ["transcripts"] * 2,
        "count": [5, 2],
    }))
    return nodes, edges, stmts


def test_flatten_for_search(spark):
    nodes, edges, stmts = _kb_frames(spark)
    flat = ix.flatten_for_search(nodes, edges, stmts)
    rows = {r.canonical_id: r for r in flat.collect()}
    q1 = rows["e:Q1"]
    assert q1.langs == ["Python"]
    assert q1.rel_counts == {"depends_on": 4, "created_by": 1}
    assert "Dataforge" in q1.contexts_sample
    for tok in ("Statlib", "STATLIB", "Python", "Dataforge"):
        assert tok in q1["all"]
    # cap: max_contexts=1 keeps only the top context per entity
    capped = ix.flatten_for_search(nodes, edges, stmts, max_contexts=1)
    assert len(capped.filter(F.col("canonical_id") == "e:Q1")
               .first().contexts_sample) == 1


def test_search(spark):
    nodes, edges, stmts = _kb_frames(spark)
    flat = ix.flatten_for_search(nodes, edges, stmts)
    hits = ix.search(flat, "statlib python").collect()
    assert [h.canonical_id for h in hits] == ["e:Q1"]
    assert ix.search(flat, "nonexistent").count() == 0


def test_facets(spark):
    """ES-facet analog: per-column top-k buckets, array columns facet per
    element (doc/example-api.md:33-60)."""
    flat = spark.createDataFrame(pd.DataFrame({
        "canonical_id": [f"e{i}" for i in range(6)],
        "entity_type": ["software"] * 4 + ["person"] * 2,
        "langs": [["Python"], ["Python", "R"], [], ["R"], [], []],
        "n_mentions": [5, 4, 3, 2, 1, 1],
    }))
    out = ix.facets(flat, ["entity_type", "langs"], k=2)
    rows = {(r.facet, r.value): r.n for r in out.collect()}
    assert rows[("entity_type", "software")] == 4
    assert rows[("entity_type", "person")] == 2
    assert rows[("langs", "Python")] == 2 and rows[("langs", "R")] == 2


def test_facets_empty_cols_rejected(spark):
    import pytest
    flat = spark.createDataFrame(pd.DataFrame({"a": [1]}))
    with pytest.raises(ValueError, match="at least one column"):
        ix.facets(flat, [])


def test_api_queries_shapes(spark):
    from softcite_kb_spark.queries import api_queries as aq
    edges = spark.createDataFrame(pd.DataFrame({
        "src_id": ["a", "a", "b", "c", "a"],
        "dst_id": ["x", "x", "x", "y", "y"],
        "rel": ["cites"] * 5,
        "count": [1, 2, 1, 1, 1],
    }))
    top = aq.top_entities_by_count(edges, key="dst_id", n=1).collect()
    assert top[0].entity == "x" and top[0].cnt == 3
    grouped = aq.group_into_lists(edges, "src_id", "dst_id", n=10).collect()
    byg = {r.grp: r for r in grouped}
    assert byg["a"].n_items == 3 and byg["a"]["items"] == ["x", "x", "y"]
    hop = aq.two_hop(
        edges, spark.createDataFrame(pd.DataFrame({
            "src_id": ["x"], "dst_id": ["z"], "rel": ["dep"]})))
    rows = hop.collect()
    assert all(r.via_id == "x" and r.end_id == "z" for r in rows)
    assert {r.start_id for r in rows} == {"a", "b"}


def test_two_hop_reverse_direction(spark):
    """start/end are the non-join endpoints whatever the traversal
    direction (they were hardcoded to src/dst before)."""
    from softcite_kb_spark.queries.api_queries import two_hop
    a = spark.createDataFrame(pd.DataFrame({
        "src_id": ["s1"], "dst_id": ["m"], "rel": ["ra"]}))
    b = spark.createDataFrame(pd.DataFrame({
        "src_id": ["e1"], "dst_id": ["m"], "rel": ["rb"]}))
    # reverse: meet at a.dst == b.dst -> far endpoints are a.src and b.src
    r = two_hop(a, b, join_left="dst_id", join_right="dst_id").collect()[0]
    assert (r.start_id, r.via_id, r.end_id) == ("s1", "m", "e1")
    # default forward direction unchanged
    c = spark.createDataFrame(pd.DataFrame({
        "src_id": ["m"], "dst_id": ["e2"], "rel": ["rc"]}))
    r2 = two_hop(a, c).collect()[0]
    assert (r2.start_id, r2.via_id, r2.end_id) == ("s1", "m", "e2")


def test_rank_tfidf_semantics(spark):
    """OR-match; rare terms outweigh common ones (idf); deterministic
    doc-id tiebreak; empty query rejected."""
    import pytest

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            "spark spark spark common",       # high tf on 'spark'
            "rareword common",                # the only 'rareword' doc
            "common common",                  # matches only 'common'
            "nothing relevant here",          # no match at all
        ],
    }))
    got = ix.rank_tfidf(docs, "spark rareword", k=10,
                        id_col="doc_id", text_col="text").collect()
    ids = [r.doc_id for r in got]
    assert set(ids) == {1, 2}        # OR-match; doc 3/4 never score
    # idf: 'rareword' (df=1) beats 'spark' (df=1) only via tf — doc 1 has
    # tf 3 on spark, doc 2 tf 1 on rareword, same idf -> doc 1 first
    assert ids[0] == 1 and got[0].score > got[1].score
    # tie: two docs with identical term profiles order by id
    ties = spark.createDataFrame(pd.DataFrame({
        "doc_id": [7, 5], "text": ["spark x", "spark y"]}))
    t = ix.rank_tfidf(ties, "spark", k=10, id_col="doc_id",
                      text_col="text").collect()
    assert [r.doc_id for r in t] == [5, 7]
    assert t[0].score == t[1].score
    with pytest.raises(ValueError, match="alphanumeric"):
        ix.rank_tfidf(docs, "!!!", id_col="doc_id", text_col="text")


def test_rank_tfidf_custom_materializer(spark, tmp_path):
    """The tf barrier is injectable (VERDICT r03 #4): a durable
    scratch-table materializer must rank identically to the default
    localCheckpoint."""
    import os

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["spark spark merge", "merge window", "spark window"]}))
    calls = []

    def scratch(df):
        p = os.path.join(tmp_path, f"scratch{len(calls)}")
        calls.append(p)
        df.write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    default = [(r.doc_id, r.score) for r in ix.rank_tfidf(
        docs, "spark window", k=10, id_col="doc_id",
        text_col="text").collect()]
    durable = [(r.doc_id, r.score) for r in ix.rank_tfidf(
        docs, "spark window", k=10, id_col="doc_id", text_col="text",
        materializer=scratch).collect()]
    assert durable == default and len(calls) == 1


def test_facets_single_scan_plan(spark, tmp_path):
    """VERDICT r03 #9: ALL facets come from ONE scan of the feed — the
    optimized plan contains exactly one parquet scan regardless of how
    many facet columns are requested."""
    p = str(tmp_path / "flat")
    spark.createDataFrame(pd.DataFrame({
        "entity_type": ["sw", "sw", "person", None],
        "label": ["a", "b", "b", "c"],
        "langs": [["en"], ["en", "fr"], None, ["de"]],
    })).write.parquet(p)
    flat = spark.read.parquet(p)
    out = ix.facets(flat, ["entity_type", "label", "langs"], k=10)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Relation") == 1, plan
    rows = {(r.facet, r.value): r.n for r in out.collect()}
    # semantics unchanged from the per-branch version
    assert rows[("entity_type", "sw")] == 2
    assert rows[("entity_type", "person")] == 1
    assert ("entity_type", "None") not in rows
    assert rows[("langs", "en")] == 2 and rows[("langs", "de")] == 1
    assert rows[("label", "b")] == 2
    # k is enforced per facet with (n desc, value asc) tie-break
    top1 = ix.facets(flat, ["label"], k=1).collect()
    assert [(r.facet, r.value, r.n) for r in top1] == [("label", "b", 2)]


def test_rank_bm25_matches_python_reference(spark):
    """Okapi BM25 vs a plain-Python reference (Robertson idf, k1/b
    length normalization, OR-match, 6-decimal round, id tiebreak)."""
    import math
    import re as _re

    texts = {1: "spark spark spark merge common", 2: "rareword common window",
             3: "common common", 4: "nothing here at all", 5: "",
             6: "spark window", 7: "spark window"}
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(texts), "text": list(texts.values())}))
    got = [(r.doc_id, r.score) for r in ix.rank_bm25(
        docs, "spark rareword window", k=10, id_col="doc_id",
        text_col="text").collect()]

    def ref(query, k1=1.2, b=0.75):
        terms = sorted({t for t in _re.split(r"[^a-z0-9]+", query.lower())
                        if t})
        toks = {d: [t for t in _re.split(r"[^a-z0-9]+", s.lower()) if t]
                for d, s in texts.items()}
        n = len(toks)
        avgdl = sum(len(v) for v in toks.values()) / n
        out = {}
        for d, tk in toks.items():
            s, hit = 0.0, False
            for t in terms:
                tf = tk.count(t)
                dfq = sum(1 for v in toks.values() if t in v)
                if tf:
                    hit = True
                idf = math.log(1 + (n - dfq + 0.5) / (dfq + 0.5))
                s += (idf * tf * (k1 + 1)
                      / (tf + k1 * (1 - b + b * len(tk) / avgdl)))
            if hit:
                out[d] = round(s, 6)
        return sorted(out.items(), key=lambda kv: (-kv[1], kv[0]))

    assert got == ref("spark rareword window")
    # identical docs tie and break on id
    pair = [x for x in got if x[0] in (6, 7)]
    assert pair[0][1] == pair[1][1] and pair[0][0] == 6
    with pytest.raises(ValueError, match="alphanumeric"):
        ix.rank_bm25(docs, "???", id_col="doc_id", text_col="text")


def test_rank_bm25_custom_materializer_and_plan(spark, tmp_path):
    """Barrier injectable; and the big side takes ONE scan with no
    explode (tf/dl come from array ops in a single projection)."""
    import os

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["spark spark merge", "merge window", "spark window"]}))
    calls = []

    def scratch(df):
        p = os.path.join(tmp_path, f"s{len(calls)}")
        calls.append(p)
        df.write.mode("overwrite").parquet(p)
        return spark.read.parquet(p)

    a = [(r.doc_id, r.score) for r in ix.rank_bm25(
        docs, "spark window", k=10, id_col="doc_id",
        text_col="text").collect()]
    b = [(r.doc_id, r.score) for r in ix.rank_bm25(
        docs, "spark window", k=10, id_col="doc_id", text_col="text",
        materializer=scratch).collect()]
    assert a == b and len(calls) == 1
    # plan shape: the materialized per-doc stats are parquet-backed; the
    # final plan reads them once for stats and once broadcast-joined —
    # no Generate (explode) anywhere
    p = str(tmp_path / "docs")
    docs.write.parquet(p)
    plan = ix.rank_bm25(spark.read.parquet(p), "spark window", k=10,
                        id_col="doc_id", text_col="text") \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" not in plan
